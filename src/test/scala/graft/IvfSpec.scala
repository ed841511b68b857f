package graft

import graft.functions.VectorOps
import graft.operators.{Ivf, Similarity}
import org.apache.spark.sql.functions._

/** IVF approximate nearest-neighbour index over the harness embeddings. */
class IvfSpec extends SparkSpec {

  private lazy val emb = queries.Q.t(spark, "/root/testdata/sf0.001", "embeddings")
    .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
  private lazy val qs = emb.filter(col("vec_id") < 5)
    .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
  private lazy val centroids = Ivf.train(emb, "vec_id", "emb", k = 8, iters = 2)

  test("train(iters=0) is seed-only and order-independent: the k " +
      "smallest-id vectors in id order, even from a reordered input " +
      "(the r17 fast path skips the spread/persist, seeds unchanged)") {
    val expected = emb.orderBy(col("vec_id")).limit(8)
      .select(col("emb")).collect().toSeq.map(_.getSeq[Double](0).toSeq)
    val reordered = emb.orderBy(col("vec_id").desc)
    assert(Ivf.train(reordered, "vec_id", "emb", k = 8, iters = 0)
      == expected)
    // empty corpus through the fast path: no centroids, no errors
    assert(Ivf.train(emb.filter(col("vec_id") < 0), "vec_id", "emb",
      k = 8, iters = 0).isEmpty)
  }

  test("empty corpus: train yields no centroids and topK yields no rows, no errors") {
    val empty = emb.filter(col("vec_id") < 0)
    val c = Ivf.train(empty, "vec_id", "emb", k = 8, iters = 2)
    assert(c.isEmpty)
    assert(Ivf.assign(empty, "emb", c).count() == 0)
    assert(Ivf.topK(empty, qs.limit(0), c, k = 5, nprobe = 2).count() == 0)
  }

  test("training yields k centroids of the right dimension, deterministically seeded") {
    assert(centroids.length == 8)
    assert(centroids.forall(_.length == 64))
  }

  test("every vector is assigned to exactly one cell; cells partition the corpus") {
    val assigned = Ivf.assign(emb, "emb", centroids)
    assert(assigned.count() == emb.count())
    val cells = assigned.groupBy("ivf_cell").count().collect()
    assert(cells.map(_.getAs[Long]("count")).sum == emb.count())
    assert(cells.forall(r => r.getAs[Int]("ivf_cell") >= 0 &&
      r.getAs[Int]("ivf_cell") < 8))
  }

  test("literal assignment at k = 8 and k = 30 matches a driver-side " +
      "argmin over the same key with the index tie-break") {
    // every k ranks through the one NearestRow loop; the assignment must
    // equal a plain Scala argmin over the same -2·dot+|c|² key with index
    // tiebreak — the arithmetic contract the DuckDB oracle re-runs.
    def argmin(v: Seq[Double], cs: Seq[Seq[Double]]): Int =
      cs.zipWithIndex.map { case (c, i) =>
        (-2.0 * c.zip(v).map { case (x, y) => x * y }.sum
          + c.map(x => x * x).sum, i)
      }.min._2
    for (k <- Seq(8, 30)) {
      val cs = Ivf.train(emb, "vec_id", "emb", k = k, iters = 1)
      assert(cs.length == k)
      val got = Ivf.assign(emb, "emb", cs)
        .select(col("vec_id"), col("ivf_cell"), col("emb"))
        .collect()
      got.foreach { r =>
        val v = r.getSeq[Double](2)
        assert(r.getInt(1) == argmin(v, cs),
          s"k=$k vec ${r.getLong(0)}: engine ${r.getInt(1)} != driver argmin")
      }
    }
  }

  test("large-k join path ≡ literal path: trainJoin's centroid frame is " +
      "bit-identical to train's matrix, assignJoin to nearestCentroid") {
    // the law that licenses the k ~ 10^4 form at 100 TB: same seeds,
    // same exact-decimal Lloyd means, same -2·dot+|c|² argmin with the
    // same (distance, index) tie-break — only the binding differs
    // (broadcast frame vs plan literals)
    // (8, 0) pins the two SEED-ONLY fast paths (r17: iters=0 skips the
    // spread/persist entirely in both twins) against each other too
    for ((k, iters) <- Seq((8, 2), (30, 1), (8, 0))) {
      val lit = Ivf.train(emb, "vec_id", "emb", k = k, iters = iters)
      val frame = Ivf.trainJoin(emb, "vec_id", "emb", k = k, iters = iters)
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
        .sortBy(_._1)
      assert(frame.map(_._1).toSeq == (0 until k),
        "cells must enumerate 0..k-1 in seed order")
      frame.foreach { case (cell, vec) =>
        assert(vec == lit(cell), s"k=$k centroid $cell differs")
      }
      val viaLit = Ivf.assign(emb, "emb", lit)
        .select("vec_id", "ivf_cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val cf = spark.createDataFrame(
        spark.sparkContext.parallelize(frame.toSeq.map { case (c, v) =>
          org.apache.spark.sql.Row(c, v) }),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("vec",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType)))))
      val viaJoin = Ivf.assignJoin(emb, "vec_id", "emb", cf)
        .select("vec_id", "ivf_cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(viaLit == viaJoin, s"k=$k assignments differ")
      // the SERVE-side member of the family: probeJoin's per-query
      // probed-cell set (frame ranking, the same (key, cell) tie-break)
      // ≡ probeList's (literal (key, index) order) — the set is the law that
      // matters: serving joins on __cell and re-ranks by distance, so
      // probe-row order is never observable downstream
      for (nprobe <- Seq(3, k)) {
        val qs = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
        val viaList = qs.select(col("q_id"),
            explode(Ivf.probeList(col("q_emb"), lit, nprobe)).as("c"))
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        val viaFrame = Ivf.probeJoin(qs, "q_id", "q_emb", cf, nprobe)
          .select(col("q_id"), col("__cell"))
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        assert(viaList == viaFrame,
          s"k=$k nprobe=$nprobe probe sets differ")
      }
    }
  }

  test("a NULL vector gets a NULL cell from assign and cellBalance and no " +
      "probe rows from probeList") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val df = spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, Seq(0.0, 0.0)), Row(2L, null), Row(3L, Seq(9.0, 9.0))),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("emb", ArrayType(DoubleType)))))
    val cents = Seq(Seq(10.0, 10.0), Seq(0.0, 0.0))
    val cells = Ivf.assign(df, "emb", cents).collect()
      .map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(cells == Map(1L -> Some(1), 2L -> None, 3L -> Some(0)))
    val probes = df.select(col("vec_id"),
        explode(Ivf.probeList(col("emb"), cents, 2)).as("c"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(probes == Seq((1L, 1), (1L, 0), (3L, 0), (3L, 1)))
    val report = Ivf.cellBalance(df, "emb", cents).collect()
      .map(r => Option(r.get(0)) -> (r.getLong(1), Option(r.get(2)))).toMap
    assert(report == Map(Some(0L) -> (1L, Some(2.0)),
      Some(1L) -> (1L, Some(0.0)), None -> (1L, None)),
      "the NULL vector's row is the NULL cell, as in assign's census")
  }

  test("cellBalance: populations agree with assign's census, sum to the " +
      "corpus, and an empty quantizer reports an empty frame") {
    val report = Ivf.cellBalance(emb, "emb", centroids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val census = Ivf.assign(emb, "emb", centroids)
      .groupBy("ivf_cell").count()
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(report == census, "balance populations must be assign's census")
    assert(report.values.sum == emb.count())
    assert(Ivf.cellBalance(emb, "emb", Seq.empty).count() == 0)
    // mean_dist is the TRUE mean squared distance |a−c|² — finite and
    // non-negative for every cell (the shifted rank key alone could go
    // negative; |a|² is added back for the report)
    Ivf.cellBalance(emb, "emb", centroids).collect().foreach { r =>
      assert(!r.getDouble(2).isNaN && !r.getDouble(2).isInfinite)
      assert(r.getDouble(2) >= 0.0, s"cell ${r.getLong(0)}: ${r.getDouble(2)}")
    }
  }

  test("prototypePrune keeps the per-cell hardest ceil(n·frac): planted " +
      "one-cell geometry prunes the centroid-hugging core, quotas bind " +
      "per cell, and empty centroids yield an empty report") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // one 2-d cell at the origin: distances 0 < 1 < 4 < 9; a second cell
    // far away with a single member (always kept: ceil(1·0.5) = 1)
    val rows = java.util.Arrays.asList(
      Row(1L, Seq(0.0, 0.0)), Row(2L, Seq(1.0, 0.0)),
      Row(3L, Seq(2.0, 0.0)), Row(4L, Seq(0.0, 3.0)),
      Row(5L, Seq(100.0, 100.0)))
    val df = spark.createDataFrame(rows, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("emb", ArrayType(DoubleType)))))
    val cents = Seq(Seq(0.0, 0.0), Seq(100.0, 100.0))
    val out = Ivf.prototypePrune(df, "vec_id", "emb", cents, keepFrac = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // cell 0 holds ids 1-4 → quota ceil(4·0.5) = 2: the two FARTHEST
    // (9.0 → id 4, 4.0 → id 3) survive; the prototypical core (0, 1) is
    // pruned
    assert(out(4L) == (0L, 9000000L, true) && out(3L) == (0L, 4000000L, true))
    assert(!out(1L)._3 && !out(2L)._3)
    assert(out(5L) == (1L, 0L, true), "a singleton cell keeps its member")
    // degenerate quantizer: empty report with the full schema
    val none = Ivf.prototypePrune(df, "vec_id", "emb", Seq.empty, 0.5)
    assert(none.columns.toSeq == Seq("vec_id", "ivf_cell", "dist_e6", "kept"))
    assert(none.count() == 0)
  }

  test("probing ALL cells reproduces the exact top-k") {
    val exact = Similarity.exactTopK(emb, qs, 10)
      .select("q_id", "vec_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ivfAll = Ivf.topK(emb, qs, centroids, k = 10, nprobe = 8)
      .select("q_id", "vec_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivfAll == exact)
  }

  test("nprobe=2 keeps useful recall at a quarter of the scan cost") {
    val exact = Similarity.exactTopK(emb, qs, 10)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ivf.topK(emb, qs, centroids, k = 10, nprobe = 2)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall")
    assert(approx.size <= exact.size)
  }

  test("PQ fixed-codebook encoding: codewords self-encode with zero error; " +
      "near-codeword vectors pick their source codeword") {
    import graft.operators.Pq
    val out = Pq.encodeFixed(emb, "vec_id", "emb", m = 4, k = 8, dim = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getDouble(3))))
      .toMap
    assert(out.size == emb.count() * 4) // one row per (vector, subspace)
    // every codebook vector encodes to itself in every subspace, err 0
    for (v <- 0 until 8; j <- 0 until 4)
      assert(out((v.toLong, j.toLong)) === ((v, 0.0)),
        s"codeword $v subspace $j")
    // errors are non-negative reconstruction distances everywhere
    assert(out.values.forall(_._2 >= 0.0))
    // on a well-separated synthetic codebook, a nudged codeword picks its
    // source in every subspace (corpus embeddings can carry near-duplicate
    // subvectors, so the recall claim is made on controlled geometry)
    import spark.implicits._
    val synth = (0 until 8).map(c =>
      (c.toLong, (0 until 64).map(i => c * 100.0 + i).toArray.toSeq))
    val nudged = (100L, synth(3)._2.map(_ + 0.5))
    val enc = Pq.encodeFixed((synth :+ nudged).toDF("vec_id", "emb"),
        "vec_id", "emb", m = 4, k = 8, dim = 64)
      .filter(col("vec_id") === 100L)
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    assert(enc == Map(0L -> 3, 1L -> 3, 2L -> 3, 3L -> 3))
  }

  test("encodeFixedLong: codes agree with encodeFixed on the micro-" +
      "quantized frame, and err is the exact integer |s-cw|^2") {
    import graft.operators.Pq
    // the q_opq_balance plain frame: 8·round(x·1e6) longs — scaling every
    // coordinate by the same factor preserves the argmin, so codes must
    // equal the double path's (whose dots are exact at these magnitudes)
    val qemb = emb.select(col("vec_id"),
      transform(col("emb"), x => round(x * 1e6, 0).cast("long") * 8).as("emb"))
    val codesD = Pq.encodeFixed(emb, "vec_id", "emb", m = 4, k = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val outL = Pq.encodeFixedLong(qemb, "vec_id", "emb", m = 4, k = 8, dim = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getInt(2), r.getLong(3))))
      .toMap
    assert(outL.size == codesD.size)
    assert(outL.forall { case (k, (c, _)) => codesD(k) == c },
      "integer-frame codes must match the double path's")
    // err replayed driver-side: exact integer |s − cw|² per (vector, j)
    val vecs = qemb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for ((id, v) <- vecs.take(20); j <- 0 until 4) {
      val (c, err) = outL((id, j.toLong))
      val s = v.slice(j * 16, j * 16 + 16)
      val cw = vecs(c.toLong).slice(j * 16, j * 16 + 16)
      val want = s.zip(cw).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(err == want, s"vec $id subspace $j")
    }
    // codewords self-encode with zero integer error
    for (v <- 0 until 8; j <- 0 until 4)
      assert(outL((v.toLong, j.toLong)) === ((v, 0L)))
  }

  test("PQ/ADC search: when the corpus IS the codebook, ADC ranking equals " +
      "exact L2 ranking (codes reconstruct perfectly)") {
    import graft.operators.Pq
    import spark.implicits._
    val synth = (0 until 8).map(c =>
      (c.toLong, (0 until 64).map(i => c * 100.0 + i).toArray.toSeq))
    val corpus = synth.toDF("vec_id", "emb")
    // query = codeword 3 nudged +0.5: self (3) is excluded, the +0.5 pulls
    // toward higher codewords, so 4 (per-dim diff −99.5) beats 2 (+100.5)
    // and 5 (−199.5) beats 1 (+200.5)
    val qs = Seq((3L, synth(3)._2.map(_ + 0.5))).toDF("q_id", "q_emb")
    val out = Pq.adcTopK(corpus, qs, 3, m = 4, k = 8, dim = 64)
      .orderBy("rn").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(x => (x._1, x._2)).toSeq == Seq((4L, 1L), (2L, 2L), (5L, 3L)))
    // with a perfectly-reconstructing codebook the ADC distance IS the
    // exact squared L2 — 64 dims of the same per-dim diff, all exact
    assert(out(0)._3 == 64 * 99.5 * 99.5)
    assert(out(1)._3 == 64 * 100.5 * 100.5)
    assert(out(2)._3 == 64 * 199.5 * 199.5)
  }

  test("IVF-ADC composition: probing ALL cells reproduces plain ADC " +
      "bit-for-bit; bounded nprobe returns a subset; empty quantizer is empty") {
    import graft.operators.Pq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val cs = Ivf.train(emb, "vec_id", "emb", k = 8, iters = 0)
    // nprobe = every cell ⇒ the candidate bound is a no-op and the
    // composed search must equal adcTopK exactly (ranks AND distances —
    // the decimal ADC sum is order-independent on both paths)
    val all = rows(Pq.ivfAdcTopK(emb, qs, cs, nprobe = 8, topK = 10,
      m = 4, k = 8, dim = 64))
    val plain = rows(Pq.adcTopK(emb, qs, 10, m = 4, k = 8, dim = 64))
    assert(all == plain)
    // bounded probes: every returned candidate must live in one of its
    // query's probed cells — the invariant that makes the search
    // |corpus|·nprobe/k instead of |corpus|
    val bounded = Pq.ivfAdcTopK(emb, qs, cs, nprobe = 2, topK = 10,
      m = 4, k = 8, dim = 64)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bounded.nonEmpty)
    val cellOf = Ivf.assign(emb, "emb", cs)
      .select("vec_id", "ivf_cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probesOf = qs.select(col("q_id"),
        Ivf.probeList(col("q_emb"), cs, 2).as("p")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSet).toMap
    bounded.foreach { case (q, v) =>
      assert(probesOf(q).contains(cellOf(v)),
        s"candidate $v of query $q is outside the probed cells")
    }
    assert(Pq.ivfAdcTopK(emb, qs, Seq.empty, nprobe = 4, topK = 10,
      m = 4, k = 8, dim = 64).count() == 0)
  }

  test("ivfAdcTrainedTopK: a corpus with one id duplicated ranks and " +
      "scores exactly like the corpus without the duplicate") {
    import graft.operators.Pq
    val cs = Ivf.train(emb, "vec_id", "emb", k = 8, iters = 0)
    // iters = 0: the codebooks are the 8 lowest ids either way (a Lloyd
    // round would weight the copy twice), so only the encode can differ
    def run(corpus: org.apache.spark.sql.DataFrame) =
      Pq.ivfAdcTrainedTopK(corpus, qs, cs, nprobe = 3, topK = 10, m = 4,
          k = 8, dim = 64, iters = 0)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val plain = run(emb)
    val id = plain.map(_._2).filter(_ >= 8).min
    assert(run(emb.union(emb.filter(col("vec_id") === id))) == plain,
      s"duplicated id $id")
  }

  test("trained PQ codebooks never reconstruct worse than the fixed ones " +
      "(Lloyd starts FROM the fixed codebook and only descends)") {
    import graft.operators.Pq
    def totalErr(enc: org.apache.spark.sql.DataFrame): Double =
      enc.agg(sum(col("err"))).head().getDouble(0)
    val fixed = totalErr(
      Pq.encodeFixed(emb, "vec_id", "emb", m = 4, k = 8, dim = 64))
    val books = Pq.trainCodebooks(emb, "vec_id", "emb",
      m = 4, k = 8, dim = 64, iters = 2)
    assert(books.length == 4 && books.forall(_.length == 8))
    assert(books.forall(_.forall(_.length == 16)))
    val trained = totalErr(Pq.encodeWith(emb, "vec_id", "emb", books))
    assert(trained <= fixed + 1e-3, s"trained $trained vs fixed $fixed")
    assert(trained >= 0.0)
    // and the shuffle-free encoder agrees with the join-based one when
    // given the fixed codebook's own codewords
    val fixedBooks = (0 until 4).map { j =>
      (0 until 8).map { c =>
        emb.filter(col("vec_id") === c).head().getSeq[Double](1)
          .slice(j * 16, j * 16 + 16).toSeq
      }.toSeq
    }
    val viaLiterals = Pq.encodeWith(emb, "vec_id", "emb", fixedBooks)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getDouble(3)))).toMap
    val viaJoin = Pq.encodeFixed(emb, "vec_id", "emb", m = 4, k = 8, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getDouble(3)))).toMap
    assert(viaLiterals == viaJoin)
  }

  test("fused trainCodebooks ≡ the per-subspace Ivf.train reference " +
      "bit-for-bit (the r15 O(m·iters)→O(iters) job fusion is pure plan)") {
    import graft.operators.Pq
    for ((m, k, iters) <- Seq((4, 8, 2), (8, 6, 1))) {
      val d = 64 / m
      val fused = Pq.trainCodebooks(emb, "vec_id", "emb", m, k, 64, iters)
      val ref = (0 until m).map { j =>
        Ivf.train(emb.select(col("vec_id"),
          slice(col("emb"), j * d + 1, d).as("__s")), "vec_id", "__s",
          k, iters)
      }
      assert(fused.length == m && ref.length == m)
      for (j <- 0 until m) {
        assert(fused(j).length == ref(j).length, s"m=$m j=$j size")
        fused(j).zip(ref(j)).zipWithIndex.foreach { case ((f, r), c) =>
          assert(f == r, s"m=$m j=$j codeword $c differs")
        }
      }
    }
    // empty corpus keeps the m-empty-codebook contract
    val empty = Pq.trainCodebooks(emb.filter(col("vec_id") < 0),
      "vec_id", "emb", m = 4, k = 8, dim = 64)
    assert(empty.length == 4 && empty.forall(_.isEmpty))
  }
}
