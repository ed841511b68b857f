package graft.tools

/** Scratch experiment (driver-side doubles, NOT the exact-integer
  * operator): does the Ge-et-al-style alternation — fixed first-8
  * codebook C-step, min-eigenvector-Householder R-step over
  * sym(X·Cᵀ) — beat the fixed rotation modes on the
  * ivfPqRecallOver pipeline (IVF k=16 iters=0, PQ m=4 codes=8,
  * nprobe=4, recall@10 over 5 queries)?
  *
  * Usage: Test/runMain graft.tools.OpqAlt /root/testdata/sf0.1 [alts]
  */
object OpqAlt {
  type Vec = Array[Double]

  def dot(a: Vec, b: Vec): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** H_u x */
  def house(u: Vec, x: Vec): Vec = {
    val un2 = dot(u, u)
    if (un2 == 0) return x
    val f = 2.0 * dot(u, x) / un2
    Array.tabulate(x.length)(i => x(i) - f * u(i))
  }

  /** PQ reconstruction under the fixed first-`codes` codebook. */
  def recon(xs: Array[(Long, Vec)], m: Int, codes: Int): Array[Vec] = {
    val dim = xs.head._2.length; val d = dim / m
    val sorted = xs.sortBy(_._1)
    val cb = Array.tabulate(m, codes)((j, c) =>
      sorted(c)._2.slice(j * d, (j + 1) * d))
    xs.map { case (_, v) =>
      val out = new Array[Double](dim)
      for (j <- 0 until m) {
        val s = v.slice(j * d, (j + 1) * d)
        var bc = 0; var bk = Double.MaxValue
        for (c <- 0 until codes) {
          val w = cb(j)(c)
          val k = -2.0 * dot(s, w) + dot(w, w)
          if (k < bk) { bk = k; bc = c }
        }
        System.arraycopy(cb(j)(bc), 0, out, j * d, d)
      }
      out
    }
  }

  def pqErr(xs: Array[(Long, Vec)], m: Int, codes: Int): Double = {
    val rs = recon(xs, m, codes)
    xs.zip(rs).map { case ((_, v), r) =>
      v.zip(r).map { case (a, b) => (a - b) * (a - b) }.sum }.sum
  }

  /** min eigenvector of sym(Σ x cᵀ) via shifted power iteration. */
  def minEigAxis(xs: Array[(Long, Vec)], cs: Array[Vec],
      steps: Int): Vec = {
    val dim = xs.head._2.length
    val mM = Array.fill(dim, dim)(0.0)
    xs.zip(cs).foreach { case ((_, x), c) =>
      for (a <- 0 until dim; b <- 0 until dim)
        mM(a)(b) += x(a) * c(b)
    }
    val sym = Array.tabulate(dim, dim)((i, j) => (mM(i)(j) + mM(j)(i)) / 2)
    val sigma = (0 until dim).map(i =>
      (0 until dim).map(j => math.abs(sym(i)(j))).sum).max
    val sh = Array.tabulate(dim, dim)((i, j) =>
      (if (i == j) sigma else 0.0) - sym(i)(j))
    // seed: argmax diagonal of the shifted matrix
    var v: Vec = {
      val sd = (0 until dim).maxBy(i => sh(i)(i))
      Array.tabulate(dim)(i => if (i == sd) 1.0 else 0.0)
    }
    for (_ <- 0 until steps) {
      val nv = Array.tabulate(dim)(i => dot(sh(i), v))
      val n = math.sqrt(dot(nv, nv))
      v = if (n == 0) nv else nv.map(_ / n)
    }
    // only worth reflecting if uᵀ sym u < 0 (trace gain positive)
    val quad = (0 until dim).map(i => v(i) * dot(sym(i), v)).sum
    println(f"  min-eig quad form: $quad%.3f (negative = gain)")
    v
  }

  def recall(xs: Array[(Long, Vec)], m: Int, codes: Int, kIvf: Int,
      nprobe: Int, topK: Int, nQ: Int): Double = {
    val dim = xs.head._2.length; val d = dim / m
    val sorted = xs.sortBy(_._1)
    val cents = sorted.take(kIvf).map(_._2)
    def cellKey(v: Vec, c: Vec) = -2.0 * dot(v, c) + dot(c, c)
    val cellOf = xs.map { case (id, v) =>
      id -> (0 until kIvf).minBy(i => (cellKey(v, cents(i)), i)) }.toMap
    val cb = Array.tabulate(m, codes)((j, c) =>
      sorted(c)._2.slice(j * d, (j + 1) * d))
    val codeOf = xs.map { case (id, v) =>
      id -> Array.tabulate(m) { j =>
        val s = v.slice(j * d, (j + 1) * d)
        (0 until codes).minBy(c =>
          (-2.0 * dot(s, cb(j)(c)) + dot(cb(j)(c), cb(j)(c)), c))
      }
    }.toMap
    val qs = xs.filter(_._1 < nQ)
    var hits = 0
    qs.foreach { case (qid, qv) =>
      val exact = xs.filter(_._1 != qid)
        .map { case (id, v) =>
          (id, dot(qv, v) / math.sqrt(dot(qv, qv)) / math.sqrt(dot(v, v))) }
        .sortBy { case (id, c) => (-c, id) }.take(topK).map(_._1).toSet
      val probed = (0 until kIvf)
        .sortBy(i => (cellKey(qv, cents(i)), i)).take(nprobe).toSet
      val approx = xs.filter { case (id, _) =>
          id != qid && probed(cellOf(id)) }
        .map { case (id, _) =>
          val ad = (0 until m).map { j =>
            val s = qv.slice(j * d, (j + 1) * d)
            val w = cb(j)(codeOf(id)(j))
            dot(s, s) - 2.0 * dot(s, w) + dot(w, w)
          }.sum
          (id, ad)
        }.sortBy { case (id, a) => (a, id) }.take(topK).map(_._1).toSet
      hits += exact.intersect(approx).size
    }
    hits.toDouble / (qs.length * topK)
  }

  /** Per-subspace Lloyd codebooks (seeds = first `codes` by id), then
    * the same IVF-ADC recall pipeline over them. */
  def recallTrained(xs: Array[(Long, Vec)], m: Int, codes: Int,
      kIvf: Int, nprobe: Int, topK: Int, nQ: Int, iters: Int): Double = {
    val dim = xs.head._2.length; val d = dim / m
    val sorted = xs.sortBy(_._1)
    val cb = Array.tabulate(m) { j =>
      var books = Array.tabulate(codes)(c =>
        sorted(c)._2.slice(j * d, (j + 1) * d))
      for (_ <- 0 until iters) {
        val asg = xs.map { case (_, v) =>
          val s = v.slice(j * d, (j + 1) * d)
          (s, (0 until codes).minBy(c =>
            (-2.0 * dot(s, books(c)) + dot(books(c), books(c)), c)))
        }
        books = Array.tabulate(codes) { c =>
          val mem = asg.filter(_._2 == c).map(_._1)
          if (mem.isEmpty) books(c)
          else Array.tabulate(d)(i => mem.map(_(i)).sum / mem.length)
        }
      }
      books
    }
    val cents = sorted.take(kIvf).map(_._2)
    def cellKey(v: Vec, c: Vec) = -2.0 * dot(v, c) + dot(c, c)
    val cellOf = xs.map { case (id, v) =>
      id -> (0 until kIvf).minBy(i => (cellKey(v, cents(i)), i)) }.toMap
    val codeOf = xs.map { case (id, v) =>
      id -> Array.tabulate(m) { j =>
        val s = v.slice(j * d, (j + 1) * d)
        (0 until codes).minBy(c =>
          (-2.0 * dot(s, cb(j)(c)) + dot(cb(j)(c), cb(j)(c)), c))
      }
    }.toMap
    val qs = xs.filter(_._1 < nQ)
    var hits = 0
    qs.foreach { case (qid, qv) =>
      val exact = xs.filter(_._1 != qid)
        .map { case (id, v) =>
          (id, dot(qv, v) / math.sqrt(dot(qv, qv)) / math.sqrt(dot(v, v))) }
        .sortBy { case (id, c) => (-c, id) }.take(topK).map(_._1).toSet
      val probed = (0 until kIvf)
        .sortBy(i => (cellKey(qv, cents(i)), i)).take(nprobe).toSet
      val approx = xs.filter { case (id, _) =>
          id != qid && probed(cellOf(id)) }
        .map { case (id, _) =>
          val ad = (0 until m).map { j =>
            val s = qv.slice(j * d, (j + 1) * d)
            val w = cb(j)(codeOf(id)(j))
            dot(s, s) - 2.0 * dot(s, w) + dot(w, w)
          }.sum
          (id, ad)
        }.sortBy { case (id, a) => (a, id) }.take(topK).map(_._1).toSet
      hits += exact.intersect(approx).size
    }
    hits.toDouble / (qs.length * topK)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val alts = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = graft.Session("graft-opq-alt")
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.VectorOps
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        VectorOps.asDouble(col("embedding")).as("emb"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val (m, codes, kIvf, nprobe, topK, nQ) = (4, 8, 16, 4, 10, 5)
    def report(tag: String, xs: Array[(Long, Vec)]): Unit =
      println(f"$tag%-14s err=${pqErr(xs, m, codes)}%10.2f  " +
        f"recall@10=${recall(xs, m, codes, kIvf, nprobe, topK, nQ)}%.3f")
    report("plain", raw)
    // fixed modes, driver-side (same spaces the frame operators build)
    val embDf = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        VectorOps.asDouble(col("embedding")).as("emb"))
    def collectFrame(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val wht = collectFrame(embDf.withColumn("emb",
      graft.operators.Opq.rotate(col("emb"), 64)))
    report("wht", wht)
    val (d1, d2) = graft.operators.Pca.topDirections2(embDf, "emb", 64)
    val u1 = graft.operators.Opq.householderFromPca(d1)
    val u2 = graft.operators.Opq.householder2FromPca(d2, u1)
    val pca1 = collectFrame(
      graft.operators.Opq.rotateHouseholder(embDf, "emb", u1))
    report("pca1", pca1)
    val pca2 = collectFrame(graft.operators.Opq.rotateHouseholder(
      graft.operators.Opq.rotateHouseholder(embDf, "emb", u1), "emb", u2))
    report("pca2", pca2)
    // trained (Lloyd) codebooks per start space: the C-step that
    // genuinely descends — measured against the fixed-codebook rows
    for ((tag, xs) <- Seq(("plain", raw), ("wht", wht), ("pca1", pca1),
        ("pca2", pca2));
        iters <- Seq(1, 2, 4)) {
      val r = recallTrained(xs, m, codes, kIvf, nprobe, topK, nQ, iters)
      println(f"trained($tag, iters=$iters): recall@10=$r%.3f")
    }
    // alternation from each start space; accept on RECALL probe (what
    // rotate-auto measures), report err too
    for ((tag, start) <- Seq(("plain", raw), ("pca2", pca2))) {
      println(s"== alternating from $tag ==")
      var cur = start
      var curR = recall(cur, m, codes, kIvf, nprobe, topK, nQ)
      for (a <- 1 to alts) {
        val cs = recon(cur, m, codes)
        val u = minEigAxis(cur, cs, steps = args.lift(2).map(_.toInt)
          .getOrElse(2))
        val cand = cur.map { case (id, v) => (id, house(u, v)) }
        val candR = recall(cand, m, codes, kIvf, nprobe, topK, nQ)
        println(f"  alt $a: recall $curR%.3f -> $candR%.3f " +
          f"err ${pqErr(cur, m, codes)}%.2f -> ${pqErr(cand, m, codes)}%.2f")
        if (candR > curR) { cur = cand; curR = candR }
      }
    }
    spark.stop()
  }
}
