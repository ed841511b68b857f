package graft

import graft.functions.VectorOps
import org.apache.spark.sql.functions._

/** graft.Ann index CLI: build artifacts, serve from codes only. */
class AnnSpec extends SparkSpec {

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_ann_$tag").toString

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
      dim = 64, idCol = "vec_id", vecCol = "embedding", rotate = true)
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
      dim = 64, idCol = "vec_id", vecCol = "embedding", rotatePca = true)
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
      dim = 64, idCol = "vec_id", vecCol = "embedding", rotatePca2 = true)
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

  test("trained build: codebooks from per-subspace Lloyd, served ranks " +
      "are contiguous and ADC distances non-decreasing per query") {
    val data = "/root/testdata/sf0.001/embeddings.parquet"
    val idx = tmp("trained")
    val n = Ann.build(spark, data, idx, k = 8, iters = 1, m = 4, codes = 8,
      dim = 64, idCol = "vec_id", vecCol = "embedding", trained = true)
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
      dim = 64, idCol = "vec_id", vecCol = "embedding", rotateAuto = true)
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
      dim = 64, idCol = "vec_id", vecCol = "embedding", sq8 = true)
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
      dim = 64, idCol = "vec_id", vecCol = "embedding", sq8 = true,
      rotate = true)
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
      projDim = 16)
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
      residual = true)
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
      dim = 64, idCol = "vec_id", vecCol = "embedding", residual = true,
      largeKFrom = 0)
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
      residual = true, trained = true)
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
    val fusedTr = graft.operators.Pq.searchIndexResidual(codesTr, cbDf,
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
      flat = true)
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
      rotatePca = true)
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
}
