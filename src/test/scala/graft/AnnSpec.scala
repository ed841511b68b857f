package graft

import graft.functions.VectorOps
import org.apache.spark.sql.functions._

/** graft.Ann index CLI: build artifacts, serve from codes only. */
class AnnSpec extends SparkSpec {

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_ann_$tag").toString

  /** The sf0.001 fixture embeddings the tests below build from. */
  private val SfEmbeddings = "/root/testdata/sf0.001/embeddings.parquet"

  /** Spark jobs of a default k = 16, iters = 2 build at sf0.001: the
    * Lloyd rounds, the codebook collect and the codes write. */
  private val BuildJobs = 9

  test("Ann CLI: unknown flags, a missing mode and a missing path flag " +
      "fail before any session is built, naming the flag") {
    def msg(args: String*) =
      intercept[IllegalArgumentException](Ann.checkArgs(args.toArray)).getMessage
    assert(msg("--build", "--data", "d", "--out", "o", "--rotate-pca1") ==
      "unknown argument(s): --rotate-pca1")
    assert(msg("--data", "d").startsWith("usage: graft.Ann"))
    assert(msg("--build", "--out", "o") == "--data <parquetDir> required")
    assert(msg("--build", "--data", "d") == "--out <indexDir> required")
    assert(msg("--search", "--data", "d") == "--index <indexDir> required")
    assert(msg("--append", "--index", "i") == "--data <parquetDir> required")
    Ann.checkArgs(Array("--search", "--index", "i", "--data", "d"))
    // build flags that pick two codecs or two rotations
    def build(flags: String*) =
      msg(Seq("--build", "--data", "d", "--out", "o") ++ flags: _*)
    assert(build("--rotate", "--rotate-pca") == "--rotate, --rotate-pca, " +
      "--rotate-pca2 and --rotate-auto are mutually exclusive")
    assert(build("--sq8", "--trained") ==
      "--sq8 and --trained are mutually exclusive (SQ8 has no codebook)")
    assert(build("--bq", "--sq8").startsWith("--bq is mutually exclusive"))
    assert(build("--bq", "--trained").startsWith("--bq is mutually exclusive"))
    assert(build("--proj-dim", "16", "--trained")
      .startsWith("--proj-dim is mutually exclusive"))
    assert(build("--proj-dim", "16", "--rotate-auto")
      .startsWith("--proj-dim does not compose with rotation flags"))
    assert(build("--residual", "--sq8")
      .startsWith("--residual is the PQ-on-residuals index"))
    assert(build("--flat", "--bq")
      .startsWith("--flat stores the vectors themselves"))
    assert(msg("--search", "--index", "i", "--data", "d", "--refine", "20") ==
      "--refine requires --raw <path>")
    Ann.checkArgs(Array("--build", "--data", "d", "--out", "o",
      "--residual", "--trained", "--rotate-pca"))
  }

  test("a meta naming an unknown quantizer (qt) or rotation (rot) code " +
      "fails the search, naming the file and the value") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmp("badmeta")
    Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding")
    val path = java.nio.file.Paths.get(idx, Ann.MetaFile)
    val good = java.nio.file.Files.readString(path)
    for ((key, bad) <- Seq("qt" -> 6, "rot" -> 4)) {
      assert(good.contains(s""""$key":0"""), good)
      java.nio.file.Files.writeString(path,
        good.replace(s""""$key":0""", s""""$key":$bad"""))
      val e = intercept[IllegalArgumentException] {
        Ann.search(spark, idx, data, None, topK = 5, nprobe = 3,
          qIdCol = "vec_id", qVecCol = "embedding")
      }
      assert(e.getMessage.contains(s"$idx/${Ann.MetaFile}") &&
        e.getMessage.contains(s"$key=$bad"), e.getMessage)
    }
  }

  test("served results from the persisted index are bit-identical to the " +
      "fused ivfAdcTopK path, and the index holds codes, not vectors") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmp("idx")
    val outd = tmp("out")
    val n = Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding")
    assert(n > 0)
    // the served path reads ONLY the artifacts
    val served = Ann.search(spark, idx, data, Some(outd), topK = 5,
        nprobe = 3, qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // the fused path with the SAME centroids (loaded from the index)
    val centroids = spark.read.parquet(s"$idx/centroids.parquet")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
    val emb = spark.read.parquet(data)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val fused = graft.operators.Pq.ivfAdcTopK(emb, qs, centroids,
        nprobe = 3, topK = 5, m = 4, k = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(served.filter(_._1 < 4) == fused, "served must equal fused")
    // artifact shape: codes are small ints + cell, never raw vectors
    val codes = spark.read.parquet(s"$idx/codes.parquet")
    assert(codes.columns.toSet == Set("vec_id", "cell", "j", "code"))
    // the written results round-trip
    val rt = spark.read.parquet(s"$outd/ann_results.parquet")
    assert(rt.count() > 0)
  }

  test("--rotate: the meta records the space, serving rotates plain " +
      "queries automatically, and results equal the fused rotated " +
      "pipeline") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmp("rot")
    val n = Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding", rotation = "wht")
    assert(n > 0)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, Ann.MetaFile)), "UTF-8")
    assert(meta.contains("\"rot\":1"), meta)
    // serving takes PLAIN vectors — the rotation is the index's business
    val served = Ann.search(spark, idx, data, None, topK = 5,
        nprobe = 3, qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val centroids = spark.read.parquet(s"$idx/centroids.parquet")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
    val emb = spark.read.parquet(data)
      .select(col("vec_id"),
        graft.operators.Opq.rotate(
          VectorOps.asDouble(col("embedding")), 64).as("emb"))
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val fused = graft.operators.Pq.ivfAdcTopK(emb, qs, centroids,
        nprobe = 3, topK = 5, m = 4, k = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(served == fused, "rotated served must equal fused rotated")
  }

  test("--rotate-pca: the learned axis persists, serving rotates plain " +
      "queries automatically, and results equal the fused Householder " +
      "pipeline") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmp("rotpca")
    val n = Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding", rotation = "pca1")
    assert(n > 0)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, Ann.MetaFile)), "UTF-8")
    assert(meta.contains("\"rot\":2"), meta)
    val u = spark.read.parquet(s"$idx/${Ann.RotationFile}")
      .orderBy("axis", "pos").collect().map(_.getAs[Long]("u"))
    assert(u.length == 64)
    val served = Ann.search(spark, idx, data, None, topK = 5,
        nprobe = 3, qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val centroids = spark.read.parquet(s"$idx/centroids.parquet")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
    val emb = graft.operators.Opq.rotateHouseholder(
      spark.read.parquet(data)
        .select(col("vec_id"),
          VectorOps.asDouble(col("embedding")).as("emb")),
      "emb", u)
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val fused = graft.operators.Pq.ivfAdcTopK(emb, qs, centroids,
        nprobe = 3, topK = 5, m = 4, k = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(served == fused, "rot-pca served must equal fused Householder")
  }

  test("--rotate-pca2 build: two persisted axes, meta rot=3, served " +
      "search equals the fused rank-2 Householder pipeline") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmp("rotpca2")
    val n = Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding", rotation = "pca2")
    assert(n > 0)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, Ann.MetaFile)), "UTF-8")
    assert(meta.contains("\"rot\":3"), meta)
    val rows = spark.read.parquet(s"$idx/${Ann.RotationFile}")
      .orderBy("axis", "pos").collect()
    val axes = rows.groupBy(_.getAs[Int]("axis")).toSeq.sortBy(_._1)
      .map(_._2.map(_.getAs[Long]("u")))
    assert(axes.map(_.length) == Seq(64, 64), "two 64-long axes")
    val served = Ann.search(spark, idx, data, None, topK = 5,
        nprobe = 3, qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val centroids = spark.read.parquet(s"$idx/centroids.parquet")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
    val emb = axes.foldLeft(
      spark.read.parquet(data)
        .select(col("vec_id"),
          VectorOps.asDouble(col("embedding")).as("emb"))) {
      (d, u) => graft.operators.Opq.rotateHouseholder(d, "emb", u.toArray)
    }
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val fused = graft.operators.Pq.ivfAdcTopK(emb, qs, centroids,
        nprobe = 3, topK = 5, m = 4, k = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(served == fused, "rot-pca2 served must equal fused rank-2")
    // the axes are the exact composition the operators derive
    val plain = spark.read.parquet(data)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
    val (d1, d2) = graft.operators.Pca.topDirections2(plain, "emb", 64)
    val u1 = graft.operators.Opq.householderFromPca(d1)
    assert(axes.head.toSeq == u1.toSeq)
    assert(axes(1).toSeq ==
      graft.operators.Opq.householder2FromPca(d2, u1).toSeq)
  }

  test("refineTopK law: refined over the full non-self candidate set " +
      "equals exactTopK") {
    // with EVERY non-self pair offered as a candidate, exact-cosine
    // refinement must reproduce brute-force exactTopK bit-for-bit —
    // candidate bounding is the ONLY approximation in the serving shape
    // deterministic subset — an unordered limit() can resolve to
    // DIFFERENT rows between the refined and exact evaluations
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
      .filter(col("vec_id") < 60)
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val allPairs = emb.select(col("vec_id"))
      .crossJoin(qs.select(col("q_id")))
      .filter(col("vec_id") =!= col("q_id"))
    val refined = graft.operators.Similarity
      .refineTopK(allPairs, emb, qs, topK = 5)
      .select(col("q_id"), col("vec_id"), col("rn"), col("cos"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val exact = graft.operators.Similarity.exactTopK(emb, qs, 5)
      .select(col("q_id"), col("vec_id"), col("rn"), col("cos"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(refined == exact)
  }

  test("--refine serving path equals the fused ADC->refineTopK " +
      "composition bit-for-bit") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmp("refidx")
    Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding")
    val served = Ann.search(spark, idx, data, None, topK = 5, nprobe = 3,
        qIdCol = "vec_id", qVecCol = "embedding",
        refine = Some((15, data)))
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val centroids = spark.read.parquet(s"$idx/centroids.parquet")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
    val emb = spark.read.parquet(data)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val cands = graft.operators.Pq.ivfAdcTopK(emb, qs, centroids,
        nprobe = 3, topK = 15, m = 4, k = 8, dim = 64)
      .select(col("q_id"), col("vec_id"), col("adist"))
    val fused = graft.operators.Similarity.refineTopK(cands, emb, qs, 5)
      .select(col("q_id"), col("vec_id"), col("rn"), col("adist"),
        round(col("cos"), 6).as("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(served == fused, "refined serve must equal fused refine")
  }

  test("refine dominance law: refined recall >= codes-only recall per " +
      "query (refined top-k is the optimal k-subset of the candidates)") {
    // THEOREM, not just an observation: refined picks the candidate
    // set's cosine-top-k; if a true top-k member in the candidates is
    // dropped, the k candidates that beat it have higher cosine and are
    // therefore true top-k members themselves — so refined overlap can
    // never be below the overlap of ANY k-subset, including ADC's.
    import graft.operators.{Pq, Similarity}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
    val qs = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val centroids = graft.operators.Ivf.train(emb, "vec_id", "emb",
      k = 8, iters = 0)
    val truth = Similarity.exactTopK(emb, qs, 10)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val cands = Pq.ivfAdcTopK(emb, qs, centroids, nprobe = 3, topK = 20,
      m = 4, k = 8, dim = 64)
    val adcTop = cands.filter(col("rn") <= 10)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val refined = Similarity.refineTopK(
        cands.select(col("q_id"), col("vec_id")), emb, qs, 10)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    truth.keys.foreach { q =>
      val rRec = refined.getOrElse(q, Set.empty).count(truth(q)) // hits
      val aRec = adcTop.getOrElse(q, Set.empty).count(truth(q))
      assert(rRec >= aRec, s"query $q: refined $rRec < adc $aRec")
    }
  }

  test("--append grows the index ≡ a full rebuild over the union " +
      "(frozen quantizers, monotone ids)") {
    val idxA = tmp("appA")
    val splitA = tmp("splitA"); val splitB = tmp("splitB"); val full = tmp("full")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // initial corpus holds ids 0..29 — includes the k=8 codebook seeds
    emb.filter(col("vec_id") < 30).write.mode("overwrite").parquet(splitA)
    emb.filter(col("vec_id") >= 30 && col("vec_id") < 60)
      .write.mode("overwrite").parquet(splitB)
    emb.filter(col("vec_id") < 60).write.mode("overwrite").parquet(full)
    Ann.build(spark, splitA, idxA, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding")
    val n = Ann.append(spark, idxA, splitB, "embedding")
    assert(n == 30)
    // rebuild over the union with the SAME centroids (copy artifacts,
    // re-encode everything through the build path)
    val centroids = spark.read.parquet(s"$idxA/centroids.parquet")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
    val fullEmb = spark.read.parquet(full)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
    val (rebuilt, _) = graft.operators.Pq.buildIndex(fullEmb, centroids,
      m = 4, k = 8, dim = 64, idCol = "vec_id", embCol = "emb")
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.get(1).asInstanceOf[Number].longValue(),
        r.get(2).asInstanceOf[Number].longValue(),
        r.get(3).asInstanceOf[Number].longValue())).toSet
    val grown = snap(spark.read.parquet(s"$idxA/codes.parquet")
      .select(col("vec_id"), col("cell"), col("j"), col("code")))
    val want = snap(rebuilt.select(col("vec_id"), col("__cell"),
      col("j"), col("code")))
    assert(grown == want, "appended index must equal the union rebuild")
    // the grown index serves the union corpus (appended ids retrievable)
    val served = Ann.search(spark, idxA, full, None, topK = 5,
        nprobe = 3, qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served.nonEmpty && served.exists(_._2 >= 30),
      "appended vectors must be retrievable from the grown index")
  }

  test("--append on a --trained and a --residual --trained index: the " +
      "appended codes equal Pq.encodeWith against the persisted codebook " +
      "(residual: over emb − c(cell))") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val splitA = tmp("trA") + "/a.parquet"
    val splitB = tmp("trB") + "/b.parquet"
    emb.filter(col("vec_id") < 30).write.parquet(splitA)
    emb.filter(col("vec_id") >= 30 && col("vec_id") < 60).write.parquet(splitB)
    val fresh = spark.read.parquet(splitB)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.get(1).asInstanceOf[Number].longValue(),
        r.get(2).asInstanceOf[Number].longValue(),
        r.get(3).asInstanceOf[Number].longValue())).toSet
    for (codec <- Seq(IndexCodec.Pq(trained = true),
        IndexCodec.Pq(trained = true, residual = true))) {
      val idx = tmp("trapp")
      Ann.build(spark, splitA, idx, k = 8, iters = 1, m = 4, codes = 8,
        dim = 64, idCol = "vec_id", vecCol = "embedding", codec = codec)
      assert(Ann.append(spark, idx, splitB, "embedding") == 30, s"$codec")
      val cents = spark.read.parquet(s"$idx/centroids.parquet")
        .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
      val cb = spark.read.parquet(s"$idx/codebook.parquet").collect()
        .map(r => (r.getAs[Int]("j"), r.getAs[Int]("c"),
          r.getSeq[Double](r.fieldIndex("cw")).toSeq))
      val books = (0 until 4).map(j =>
        cb.filter(_._1 == j).sortBy(_._2).map(_._3).toSeq)
      val withCell = fresh.withColumn("cell",
        graft.operators.Ivf.nearestCentroid(col("emb"), cents))
      val encoded = if (codec.residual) withCell.withColumn("emb",
        zip_with(col("emb"), element_at(
          typedlit(cents.map(_.toArray).toArray), col("cell") + 1),
          (a, b) => a - b))
      else withCell
      val want = snap(graft.operators.Pq.encodeWith(encoded, "vec_id", "emb",
          books, carry = Seq("cell"))
        .select(col("vec_id"), col("cell"), col("j"), col("code")))
      val got = snap(spark.read.parquet(s"$idx/codes.parquet")
        .filter(col("vec_id") >= 30)
        .select(col("vec_id"), col("cell"), col("j"), col("code")))
      assert(got.size == 30 * 4 && got == want, s"$codec")
    }
  }

  test("trained build: codebooks from per-subspace Lloyd, served ranks " +
      "are contiguous and ADC distances non-decreasing per query") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmp("trained")
    val n = Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding",
      codec = IndexCodec.Pq(trained = true))
    assert(n > 0)
    val res = Ann.search(spark, idx, data, None, topK = 5, nprobe = 3,
        qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4).orderBy("q_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(res.nonEmpty)
    res.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).toSeq == (1L to rows.length.toLong),
        s"query $q ranks not contiguous")
      assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq,
        s"query $q distances not ascending")
    }
  }

  test("--rotate-auto: the probe measures all four modes, the build " +
      "picks the measured winner (lower rot on ties), meta records it, " +
      "and the probe artifact lands beside the index") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val plain = spark.read.parquet(data)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
    val (best, recalls) = Ann.probeRotation(plain, "vec_id", dim = 64,
      k = 8, m = 4, codes = 8, sampleN = 20000)
    assert(recalls.map(_._1) == Seq(0, 1, 2, 3), "all four modes measured")
    recalls.foreach { case (r, v) =>
      assert(v >= 0.0 && v <= 1.0, s"recall out of range for rot=$r: $v") }
    // the declared selection rule: max recall, lower rot code on ties
    val expected = recalls.maxBy { case (rot, v) => (v, -rot) }._1
    assert(best == expected, s"best=$best recalls=$recalls")
    // the build path re-runs the same deterministic probe and agrees
    val idx = tmp("auto")
    val n = Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding", rotation = "auto")
    assert(n > 0)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, Ann.MetaFile)), "UTF-8")
    assert(meta.contains(s""""rot":$best"""), meta)
    val probe = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, "rotation_probe.json")), "UTF-8")
    assert(probe.contains(s""""chosen":"${Ann.RotNames(best)}""""), probe)
    assert(Ann.RotNames.forall(m => probe.contains(s""""$m":""")), probe)
    // the chosen-space index serves plain queries like any explicit mode
    val served = Ann.search(spark, idx, data, None, topK = 5, nprobe = 3,
      qIdCol = "vec_id", qVecCol = "embedding")
    assert(served.count() > 0)
  }

  test("--sq8: scales + code arrays persist, meta qt=1, served ranks " +
      "equal the fused Sq.sq8IvfTopK pipeline, and --append encodes " +
      "against the frozen scales") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmp("sq8")
    val n = Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding",
      codec = IndexCodec.Sq8)
    assert(n > 0)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, Ann.MetaFile)), "UTF-8")
    assert(meta.contains("\"qt\":1"), meta)
    val scales = spark.read.parquet(s"$idx/scales.parquet")
    assert(scales.count() == 64)
    assert(scales.columns.toSet == Set("pos", "mn", "d"))
    val codes = spark.read.parquet(s"$idx/codes.parquet")
    assert(codes.columns.toSet == Set("vec_id", "cell", "scode"))
    // served from artifacts ≡ fused operator pipeline (ids + ranks)
    val served = Ann.search(spark, idx, data, None, topK = 5, nprobe = 3,
        qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val emb = spark.read.parquet(data)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val centroids = spark.read.parquet(s"$idx/centroids.parquet")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
    val fused = graft.operators.Sq.sq8IvfTopK(emb, qs, centroids,
        topK = 5, nprobe = 3, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == fused, "sq8 served must equal fused")
    // append: new ids fold in against the FROZEN scales; count grows,
    // old code rows are untouched, and the new rows are searchable
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val freshPath = tmp("sq8fresh")
    emb.filter(col("vec_id") < 8)
      .select((col("vec_id") + maxId + 1).as("vec_id"),
        col("emb").as("embedding"))
      .write.parquet(s"$freshPath/fresh.parquet")
    val before = spark.read.parquet(s"$idx/codes.parquet").count()
    val added = Ann.append(spark, idx, s"$freshPath/fresh.parquet",
      "embedding")
    assert(added == 8)
    val after = spark.read.parquet(s"$idx/codes.parquet")
    assert(after.count() == before + 8)
    // a clone appended beyond the corpus is its clone's SQ8 twin: same
    // cell, identical code array (frozen scales, same input)
    val pair = after.filter(col("vec_id").isin(0L, maxId + 1))
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Int]("cell"), r.getSeq[Long](2))).sortBy(_._1)
    assert(pair.length == 2 && pair(0)._2 == pair(1)._2 &&
      pair(0)._3 == pair(1)._3, s"clone must encode identically: $pair")
  }

  test("--sq8 composes with --rotate: scales train in the rotated space, " +
      "serving rotates plain queries automatically, served ranks equal " +
      "the fused rotated SQ8 pipeline") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmp("sq8rot")
    val n = Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding",
      codec = IndexCodec.Sq8, rotation = "wht")
    assert(n > 0)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, Ann.MetaFile)), "UTF-8")
    assert(meta.contains("\"qt\":1") && meta.contains("\"rot\":1"), meta)
    // serving takes PLAIN vectors; the index rotates them to its space
    val served = Ann.search(spark, idx, data, None, topK = 5, nprobe = 3,
        qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // fused: the same WHT rotation applied up front, then flat SQ8-IVF
    val emb = spark.read.parquet(data)
      .select(col("vec_id"), graft.operators.Opq.rotate(
        VectorOps.asDouble(col("embedding")), 64).as("emb"))
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val centroids = spark.read.parquet(s"$idx/centroids.parquet")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
    val fused = graft.operators.Sq.sq8IvfTopK(emb, qs, centroids,
        topK = 5, nprobe = 3, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(served == fused, "rotated sq8 served must equal fused")
  }

  test("large-k routing law: a join-built artifact (largeKFrom = 0 forces " +
      "Ivf.trainJoin/assignJoin) is bit-identical to the literal-built " +
      "one — centroids, codes, and served results — at a k both paths " +
      "support, and --append keeps the recorded plan form") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val lit = tmp("klit")
    val jn = tmp("kjoin")
    val nLit = Ann.build(spark, data, lit, k = 8, iters = 1, m = 4,
      codes = 8, dim = 64, idCol = "vec_id", vecCol = "embedding")
    val nJn = Ann.build(spark, data, jn, k = 8, iters = 1, m = 4,
      codes = 8, dim = 64, idCol = "vec_id", vecCol = "embedding",
      largeKFrom = 0)
    assert(nLit == nJn && nLit > 0)
    def metaOf(d: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(d, Ann.MetaFile)), "UTF-8")
    assert(metaOf(lit).contains("\"kjoin\":false"), metaOf(lit))
    assert(metaOf(jn).contains("\"kjoin\":true"), metaOf(jn))
    def cents(d: String) = spark.read.parquet(s"$d/centroids.parquet")
      .orderBy("cell").collect().map(r =>
        (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    assert(cents(lit) == cents(jn),
      "join-trained centroids must equal literal-trained bit-for-bit")
    def codes(d: String) = spark.read.parquet(s"$d/codes.parquet")
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Long]("j"), r.getAs[Int]("code"))).toSet
    assert(codes(lit) == codes(jn),
      "join-path codes must equal literal-path codes")
    def serve(d: String) = Ann.search(spark, d, data, None, topK = 5,
        nprobe = 3, qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(serve(lit) == serve(jn), "served results must match")
    // --append on each index assigns with its recorded plan form and
    // lands identical rows (ids shifted to avoid colliding the corpus)
    val freshPath = tmp("kfresh") + "/fresh.parquet"
    spark.read.parquet(data).filter(col("vec_id") < 6)
      .withColumn("vec_id", col("vec_id") + 100000L)
      .write.parquet(freshPath)
    val aLit = Ann.append(spark, lit, freshPath, "embedding")
    val aJn = Ann.append(spark, jn, freshPath, "embedding")
    assert(aLit == 6 && aJn == 6)
    assert(codes(lit) == codes(jn),
      "appended codes must match across plan forms")
  }

  test("--proj-dim: the JL index stores projected vectors beside " +
      "projected-space cells, serving projects PLAIN queries through " +
      "the persisted basis, nprobe >= k equals exact projected cosine, " +
      "and append is stateless-exact") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmp("jl")
    val n = Ann.build(spark, data, idx, k = 8, iters = 1, m = 4,
      codes = 8, dim = 64, idCol = "vec_id", vecCol = "embedding",
      codec = IndexCodec.Jl(16))
    assert(n > 0)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, Ann.MetaFile)), "UTF-8")
    assert(meta.contains("\"qt\":3") && meta.contains("\"pdim\":16"), meta)
    // artifact shape: 16-dim projected vectors, a 16x64 plane basis,
    // 8 projected-space centroids of length 16
    val codes = spark.read.parquet(s"$idx/codes.parquet")
    assert(codes.columns.toSet == Set("vec_id", "cell", "pvec"))
    assert(codes.select(size(col("pvec"))).distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(16))
    assert(spark.read.parquet(s"$idx/projection.parquet").count()
      == 16L * 64)
    assert(spark.read.parquet(s"$idx/centroids.parquet")
      .select(size(col("vec"))).distinct()
      .collect().map(_.getInt(0)).toSeq == Seq(16))
    // served at nprobe >= k == exact cosine search in the projected
    // space (all cells probed), adist = -cos bit-for-bit
    val served = Ann.search(spark, idx, data, None, topK = 5, nprobe = 8,
        qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val planes = graft.operators.Similarity.hyperplanes(16, 64)
    def proj(c: org.apache.spark.sql.Column) =
      array(planes.map(p => VectorOps.dot(c, typedlit(p))): _*)
    val pemb = spark.read.parquet(data)
      .select(col("vec_id"),
        proj(VectorOps.asDouble(col("embedding"))).as("emb"))
    val qs = pemb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val fused = graft.operators.Similarity.exactTopK(pemb, qs, 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rn"), -r.getAs[Double]("cos"))).toSet
    assert(served == fused,
      "served JL at nprobe >= k must equal exact projected cosine")
    // append: a cloned vector under a fresh id lands the identical
    // (cell, pvec) — projection + assignment are stateless
    val freshPath = tmp("jlfresh") + "/fresh.parquet"
    spark.read.parquet(data).filter(col("vec_id") === 0L)
      .withColumn("vec_id", lit(100000L))
      .write.parquet(freshPath)
    assert(Ann.append(spark, idx, freshPath, "embedding") == 1L)
    val pair = spark.read.parquet(s"$idx/codes.parquet")
      .filter(col("vec_id").isin(0L, 100000L))
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getSeq[Double](r.fieldIndex("pvec")))).sortBy(_._1)
    assert(pair.length == 2 && pair(0)._2 == pair(1)._2 &&
      pair(0)._3 == pair(1)._3, s"clone must project identically: $pair")
  }

  test("--residual (qt=4): codes encode x - c(cell), served results " +
      "equal the fused ivfAdcResidualTopK pipeline bit-for-bit, the " +
      "large-k join form builds the identical artifact, and --append " +
      "encodes a clone identically") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmp("resid")
    val n = Ann.build(spark, data, idx, k = 8, iters = 1, m = 4,
      codes = 8, dim = 64, idCol = "vec_id", vecCol = "embedding",
      codec = IndexCodec.Pq(residual = true))
    assert(n > 0)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, Ann.MetaFile)), "UTF-8")
    assert(meta.contains("\"qt\":4"), meta)
    def codesOf(d: String) = spark.read.parquet(s"$d/codes.parquet")
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Long]("j"), r.getAs[Int]("code"))).toSet
    val served = Ann.search(spark, idx, data, None, topK = 5, nprobe = 3,
        qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val centroids = spark.read.parquet(s"$idx/centroids.parquet")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
    val emb = spark.read.parquet(data)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val fused = graft.operators.Pq.ivfAdcResidualTopK(emb, qs, centroids,
        nprobe = 3, topK = 5, m = 4, k = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(served == fused, "residual served must equal fused")
    // the large-k join form (forced) builds the identical artifact and
    // serves identically — the kjoin x residual composition
    val jn = tmp("residjn")
    Ann.build(spark, data, jn, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding",
      codec = IndexCodec.Pq(residual = true), largeKFrom = 0)
    assert(codesOf(jn) == codesOf(idx),
      "join-path residual codes must equal literal-path codes")
    val servedJn = Ann.search(spark, jn, data, None, topK = 5,
        nprobe = 3, qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(servedJn == served, "kjoin residual serving must match")
    // append: a cloned vector under a fresh id encodes to the same
    // (cell, j, code) rows — residual + frozen codebook are per-row pure
    val freshPath = tmp("residfresh") + "/fresh.parquet"
    spark.read.parquet(data).filter(col("vec_id") === 0L)
      .withColumn("vec_id", lit(100000L))
      .write.parquet(freshPath)
    assert(Ann.append(spark, idx, freshPath, "embedding") == 1L)
    val all = codesOf(idx)
    val orig = all.filter(_._1 == 0L).map(t => (t._2, t._3, t._4))
    val clone = all.filter(_._1 == 100000L).map(t => (t._2, t._3, t._4))
    assert(orig == clone && clone.size == 4,
      s"clone must encode identically: $orig vs $clone")
    // --residual --trained: Lloyd codebooks ON the residual frame (the
    // FAISS production IndexIVFPQ default) — served ≡ the fused
    // trained-residual composition built from the public operators
    val tr = tmp("residtr")
    Ann.build(spark, data, tr, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding",
      codec = IndexCodec.Pq(trained = true, residual = true))
    val metaTr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(tr, Ann.MetaFile)), "UTF-8")
    assert(metaTr.contains("\"qt\":4"), metaTr)
    val servedTr = Ann.search(spark, tr, data, None, topK = 5,
        nprobe = 3, qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val centsTr = spark.read.parquet(s"$tr/centroids.parquet")
    val centroidsTr = centsTr.orderBy("cell").collect()
      .map(_.getSeq[Double](1).toSeq).toSeq
    val ar = emb
      .withColumn("cell",
        graft.operators.Ivf.nearestCentroid(col("emb"), centroidsTr))
      .join(broadcast(centsTr.select(col("cell"), col("vec").as("__cv"))),
        Seq("cell"))
      .withColumn("__res", zip_with(col("emb"), col("__cv"),
        (a, b) => a - b))
    val books = graft.operators.Pq.trainCodebooks(ar, "vec_id", "__res",
      m = 4, k = 8, dim = 64, iters = 1)
    import spark.implicits._
    val cbDf = books.zipWithIndex.flatMap { case (cbJ, j) =>
      cbJ.zipWithIndex.map { case (w, c) =>
        (j, c, w, w.foldLeft(0.0)((s, x) => s + x * x))
      }
    }.toDF("j", "__c", "__cw", "__cwn2")
    val codesTr = graft.operators.Pq.encodeWith(ar, "vec_id", "__res",
        books, carry = Seq("cell"))
      .select(col("vec_id"), col("cell").as("__cell"), col("j"),
        col("code"))
    val fusedTr = graft.operators.Pq.searchIndexResidual(codesTr,
        graft.operators.Pq.Codeword.of(cbDf.collect().toSeq),
        qs, centroidsTr, nprobe = 3, topK = 5, m = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(servedTr == fusedTr,
      "trained-residual served must equal the fused composition")
  }

  test("--flat (qt=5): the stored code is the vector, served results " +
      "equal the fused Similarity.ivfTopK pipeline bit-for-bit, " +
      "nprobe >= k equals exact cosine, and append is trivially exact") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmp("flat")
    val n = Ann.build(spark, data, idx, k = 8, iters = 1, m = 4,
      codes = 8, dim = 64, idCol = "vec_id", vecCol = "embedding",
      codec = IndexCodec.Flat)
    assert(n > 0)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, Ann.MetaFile)), "UTF-8")
    assert(meta.contains("\"qt\":5"), meta)
    assert(spark.read.parquet(s"$idx/codes.parquet").columns.toSet ==
      Set("vec_id", "cell", "fvec"))
    def serve(np: Int) = Ann.search(spark, idx, data, None, topK = 5,
        nprobe = np, qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val centroids = spark.read.parquet(s"$idx/centroids.parquet")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toSeq).toSeq
    val emb = spark.read.parquet(data)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val fused = graft.operators.Similarity.ivfTopK(emb, qs, centroids,
        topK = 5, nprobe = 3)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rn"), -r.getAs[Double]("cos"))).toSet
    assert(serve(3) == fused, "flat served must equal fused ivfTopK")
    // nprobe >= k probes every cell: exact cosine search
    val exact = graft.operators.Similarity.exactTopK(emb, qs, 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rn"), -r.getAs[Double]("cos"))).toSet
    assert(serve(8) == exact, "flat at nprobe >= k must equal exactTopK")
    // append: a clone under a fresh id lands the identical (cell, fvec)
    val freshPath = tmp("flatfresh") + "/fresh.parquet"
    spark.read.parquet(data).filter(col("vec_id") === 0L)
      .withColumn("vec_id", lit(100000L))
      .write.parquet(freshPath)
    assert(Ann.append(spark, idx, freshPath, "embedding") == 1L)
    val pair = spark.read.parquet(s"$idx/codes.parquet")
      .filter(col("vec_id").isin(0L, 100000L))
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getSeq[Double](r.fieldIndex("fvec")))).sortBy(_._1)
    assert(pair.length == 2 && pair(0)._2 == pair(1)._2 &&
      pair(0)._3 == pair(1)._3, s"clone must store identically: $pair")
  }

  test("crash safety: a midway-failing rebuild (staged artifact promote) " +
      "leaves the prior index — including artifacts the failed mode " +
      "would have deleted — fully serveable") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmp("crash")
    // a learned-rotation index: rotation.parquet is exactly the artifact
    // a PLAIN rebuild deletes, so a failing plain rebuild is the
    // regression case (pre-r16 code deleted it before doing any work)
    val n = Ann.build(spark, data, idx, k = 8, iters = 1, m = 4,
      codes = 8, dim = 64, idCol = "vec_id", vecCol = "embedding",
      rotation = "pca1")
    assert(n > 0)
    def serve() = Ann.search(spark, idx, data, None, topK = 5,
        nprobe = 3, qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val before = serve()
    // the rebuild fails mid-train: dim=32 against 64-dim vectors fires
    // the requireDim raise_error inside the first Spark job — well
    // after the build started, well before any artifact promotes
    intercept[Throwable] {
      Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
        dim = 32, idCol = "vec_id", vecCol = "embedding")
    }
    assert(new java.io.File(s"$idx/${Ann.RotationFile}").exists(),
      "the failed plain rebuild must not have deleted the rotation")
    assert(serve() == before,
      "the prior index must serve identically after a failed rebuild")
    // a failure inside the concurrent artifact writes: the codes write's
    // jobs are cancelled as they start, while the centroid and codebook
    // writes run beside them
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val cancelled = new java.util.concurrent.atomic.AtomicInteger()
    val cancelCodes = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name == "Ann.build write codes.parquet")) {
          cancelled.incrementAndGet()
          sc.cancelJob(e.jobId)
        }
    }
    sc.addSparkListener(cancelCodes)
    try intercept[Throwable] {
      Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
        dim = 64, idCol = "vec_id", vecCol = "embedding")
    } finally sc.removeSparkListener(cancelCodes)
    assert(cancelled.get() > 0, "the codes write must have been cancelled")
    // the sibling write ran to completion before the failure surfaced
    assert(new java.io.File(s"$idx/.staging/centroids.parquet/_SUCCESS")
      .exists(), "every concurrent write finishes before the rethrow")
    assert(new java.io.File(s"$idx/${Ann.RotationFile}").exists(),
      "a failed artifact write must not promote anything")
    assert(serve() == before,
      "the prior index must serve identically after a failed write")
  }

  test("Ann.build returns the distinct-id count with a duplicated id, for " +
      "the default PQ, --residual, --trained and --flat layouts, and " +
      "names its steps") {
    val src = "/root/testdata/sf0.001/embeddings.parquet"
    val data = tmp("dupdata") + "/emb.parquet"
    val raw = spark.read.parquet(src)
    raw.union(raw.filter(col("vec_id") === 5L)).write.parquet(data)
    val ids = raw.select("vec_id").distinct().count()
    assert(spark.read.parquet(data).count() == ids + 1)
    def build(idx: String, codec: IndexCodec = IndexCodec.Pq()) =
      jobsOf(Ann.build(spark, data, idx, k = 8, iters = 1, m = 4,
        codes = 8, dim = 64, idCol = "vec_id", vecCol = "embedding",
        codec = codec))
    for ((layout, idx, codec) <- Seq(
        ("pq", tmp("dup_pq"), IndexCodec.Pq()),
        ("residual", tmp("dup_res"), IndexCodec.Pq(residual = true)),
        ("trained", tmp("dup_tr"), IndexCodec.Pq(trained = true)),
        ("flat", tmp("dup_flat"), IndexCodec.Flat))) {
      val (n, sites) = build(idx, codec)
      assert(n == ids, s"$layout: built $n, want $ids distinct ids")
      // the centroids are written on the driver, not by a job
      assert(sites.contains("Ann.build train") &&
        sites.contains("Ann.build write codes.parquet") &&
        !sites.contains("Ann.build write centroids.parquet"),
        s"$layout: $sites")
      // every PQ encode keeps one row per (id, j), so the codes write
      // counts the ids itself; flat stores a row per input row
      val readBack = layout == "flat"
      assert(sites.contains("Ann.build count") == readBack,
        s"$layout: $sites")
      if (layout != "flat") {
        val perId = spark.read.parquet(s"$idx/codes.parquet")
          .groupBy("vec_id").agg(count(lit(1)).as("n"),
            countDistinct(col("j")).as("js"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(perId.length == ids && perId.forall(r => r._2 == 4 && r._3 == 4),
          s"$layout: ${perId.filter(_._2 != 4).toSeq}")
      }
    }
  }

  test("job budget: a default PQ build writes its centroids and codebook " +
      "on the driver, and its search reads them without a job and runs " +
      "at most 4 jobs") {
    val data = SfEmbeddings
    val idx = tmp("budget")
    val (_, build) = jobsOf(Ann.build(spark, data, idx, k = 16, iters = 2,
      m = 4, codes = 8, dim = 64, idCol = "vec_id", vecCol = "embedding"))
    val (_, search) = jobsOf(Ann.search(spark, idx, data, None, topK = 10,
        nprobe = 4, qIdCol = "vec_id", qVecCol = "embedding").collect())
    Seq("centroids.parquet", "codebook.parquet").foreach { a =>
      assert(!build.contains(s"Ann.build write $a"), build)
      assert(new java.io.File(s"$idx/$a/_SUCCESS").exists(), a)
    }
    assert(build.count(_ == "Ann.build write codes.parquet") == 1, build)
    assert(!build.contains("Ann.build count"), build)
    assert(build.size <= BuildJobs, build)
    assert(!search.contains("Ann.search centroids"), search)
    assert(search.size <= 4, search)
  }

  test("an index whose small artifacts Spark wrote as several part files " +
      "serves and appends exactly as the driver-written one") {
    val data = SfEmbeddings
    val fresh = tmp("parts_fresh") + "/f.parquet"
    spark.read.parquet(data).filter(col("vec_id") < 3)
      .withColumn("vec_id", col("vec_id") + 100000L).write.parquet(fresh)
    def serve(idx: String) = Ann.search(spark, idx, data, None, topK = 5,
        nprobe = 3, qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    def codes(idx: String) = spark.read.parquet(s"$idx/codes.parquet")
      .collect().map(_.toString).toSet
    for ((codec, rotation, small) <- Seq(
        (IndexCodec.Pq(), "pca2",
          Seq("centroids.parquet", "codebook.parquet", Ann.RotationFile)),
        (IndexCodec.Sq8, "plain", Seq("centroids.parquet", "scales.parquet")),
        (IndexCodec.Jl(16), "plain",
          Seq("centroids.parquet", Ann.ProjectionFile)))) {
      val idx = tmp("parts_idx")
      Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
        dim = 64, idCol = "vec_id", vecCol = "embedding", codec = codec,
        rotation = rotation)
      val copy = tmp("parts_copy")
      val copied = new java.io.File(idx).list().toSeq
      copied.foreach(name => java.nio.file.Files.walk(
          java.nio.file.Paths.get(idx, name)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path]).foreach { p =>
          java.nio.file.Files.copy(p, java.nio.file.Paths.get(copy,
            java.nio.file.Paths.get(idx).relativize(p).toString))
        })
      small.foreach { a =>
        val rows = spark.read.parquet(s"$idx/$a")
        assert(rows.count() > 0, a)
        rows.repartition(3).write.mode("overwrite").parquet(s"$copy/$a")
        val parts = new java.io.File(s"$copy/$a").list()
          .count(n => n.startsWith("part-") && n.endsWith(".parquet"))
        assert(parts > 1, s"$codec $a: $parts part files")
      }
      assert(serve(copy) == serve(idx), s"$codec")
      Ann.append(spark, idx, fresh, "embedding")
      Ann.append(spark, copy, fresh, "embedding")
      assert(codes(copy) == codes(idx), s"$codec")
    }
  }

  test("the --sq8 --rotate fused pipeline (graft_wht feeding " +
      "graft_dot_long) and an Ann --rotate build and search compile their " +
      "generated code: they run with the interpreted fallback off") {
    val data = SfEmbeddings
    val keys = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val emb = spark.read.parquet(data)
        .select(col("vec_id"), graft.operators.Opq.rotate(
          VectorOps.asDouble(col("embedding")), 64).as("emb"))
      val qs = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val centroids = graft.operators.Ivf.train(emb, "vec_id", "emb", 8,
        iters = 1)
      val fused = graft.operators.Sq.sq8IvfTopK(emb, qs, centroids,
        topK = 5, nprobe = 3, dim = 64).collect()
      assert(fused.length == 4 * 5)
      val idx = tmp("whtcg")
      assert(Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
        dim = 64, idCol = "vec_id", vecCol = "embedding",
        rotation = "wht") > 0)
      assert(Ann.search(spark, idx, data, None, topK = 5, nprobe = 3,
          qIdCol = "vec_id", qVecCol = "embedding")
        .filter(col("q_id") < 4).count() == 4 * 5)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("an Ann build widens its vectors with a plain cast inside " +
      "whole-stage codegen: every executed Project and Filter reading the " +
      "embedding as doubles sits in a codegen stage, and no lambda runs") {
    import org.apache.spark.sql.catalyst.expressions.{Cast, LambdaFunction}
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      Ann.build(spark, SfEmbeddings, tmp("ingestcg"), k = 8, iters = 1,
        m = 4, codes = 8, dim = 64, idCol = "vec_id", vecCol = "embedding")
      org.apache.spark.GraftListenerBridge.waitForListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    // every executed node, and whether it runs inside a codegen stage
    def walk(p: SparkPlan, inStage: Boolean): Seq[(SparkPlan, Boolean)] =
      (p, inStage) +: (p match {
        case w: WholeStageCodegenExec => walk(w.child, inStage = true)
        case i: InputAdapter => walk(i.child, inStage = false)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inStage = false)
        case s: QueryStageExec => walk(s.plan, inStage = false)
        case m: InMemoryTableScanExec =>
          walk(m.relation.cachedPlan, inStage = false)
        case o => o.children.flatMap(walk(_, inStage))
      })
    val nodes = plans.toArray.toSeq.flatMap(p => walk(p.asInstanceOf[SparkPlan], false))
    assert(!nodes.exists(_._1.expressions.exists(
      _.exists(_.isInstanceOf[LambdaFunction]))))
    val ingest = nodes.filter { case (p, _) =>
      (p.isInstanceOf[ProjectExec] || p.isInstanceOf[FilterExec]) &&
        p.expressions.exists(_.exists {
          case c: Cast => c.dataType.sql == "ARRAY<DOUBLE>"
          case _ => false
        })
    }
    assert(ingest.nonEmpty)
    ingest.foreach { case (p, inStage) => assert(inStage, p.simpleString(200)) }
  }

  test("a real large-k build (k = 512 at sf0.1) auto-routes to the join " +
      "path: meta records kjoin, centroids.parquet carries 512 rows, " +
      "and the index serves") {
    val data = "/root/testdata/sf0.1/embeddings.parquet"
    val idx = tmp("k512")
    val n = Ann.build(spark, data, idx, k = 512, iters = 1, m = 4,
      codes = 8, dim = 64, idCol = "vec_id", vecCol = "embedding")
    assert(n == 2000, s"all sf0.1 vectors must index, got $n")
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, Ann.MetaFile)), "UTF-8")
    assert(meta.contains("\"k\":512") && meta.contains("\"kjoin\":true"),
      meta)
    val cents = spark.read.parquet(s"$idx/centroids.parquet")
    assert(cents.count() == 512L,
      "k=512 seeds exist (2000 > 512), so all 512 cells must train")
    assert(cents.select("cell").distinct().count() == 512L)
    val served = Ann.search(spark, idx, data, None, topK = 5, nprobe = 8,
        qIdCol = "vec_id", qVecCol = "embedding")
      .filter(col("q_id") < 3)
    assert(served.count() > 0, "a kjoin index must serve")
  }

  /** md5 of a frame's rows, each rendered with doubles as their bits and
    * the lines sorted, so the digest pins every value and no order. */
  private def digest(df: org.apache.spark.sql.DataFrame): String = {
    def render(v: Any): String = v match {
      case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case null => "null"
      case o => o.toString
    }
    val lines = df.collect().map(_.toSeq.map(render).mkString("|")).sorted
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  test("golden: a seeded 3,000x64 IVF-PQ build and search (k 16, iters 2, " +
      "m 4, codes 8, nprobe 4) reproduces its centroids, codebook, codes " +
      "and ranked ADC distances bit for bit, fixed and trained") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dim = 64
    val r = new scala.util.Random(4)
    val centres = Array.fill(3000 / 16, dim)(r.nextGaussian())
    def vecs(from: Long, n: Int) = (0 until n).map { i =>
      val c = centres(r.nextInt(centres.length))
      Row(from + i, c.map(x => (x + 0.35 * r.nextGaussian()).toFloat).toSeq)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def write(rows: Seq[Row], tag: String) = {
      val p = s"${tmp(tag)}/data.parquet"
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(p)
      p
    }
    val base = write(vecs(0L, 3000), "golden_base")
    val queries = write(vecs(3000L, 50), "golden_q")
    val golden = Map(
      false -> Seq(
        "centroids" -> "a11919907f295781985c18f90224dbb2",
        "codebook" -> "3608bef67ee02a6f45d5a8b28386d84c",
        "codes" -> "c45b9d31ba6abd04d8a18c365674b297",
        "search" -> "4f34d1181c146dfd61c74fa1f6af0dd0"),
      true -> Seq(
        "centroids" -> "a11919907f295781985c18f90224dbb2",
        "codebook" -> "aacfefdfa297c2012cca275dc9af814a",
        "codes" -> "1553d0aeac3de9d060aa9174d3670482",
        "search" -> "f9d9c304e75579093d848ff233eb7dd4"))
    for (trained <- Seq(false, true)) {
      val idx = tmp(s"golden_idx_$trained")
      assert(Ann.build(spark, base, idx, k = 16, iters = 2, m = 4, codes = 8,
        dim = dim, idCol = "vec_id", vecCol = "embedding",
        codec = IndexCodec.Pq(trained = trained)) == 3000L)
      val got = Seq("centroids", "codebook", "codes").map(a =>
          a -> digest(spark.read.parquet(s"$idx/$a.parquet"))) :+
        ("search" -> digest(Ann.search(spark, idx, queries, None, topK = 10,
          nprobe = 4, qIdCol = "vec_id", qVecCol = "embedding")
          .select("q_id", "vec_id", "rn", "adist")))
      assert(got == golden(trained), s"trained=$trained")
    }
  }
}
