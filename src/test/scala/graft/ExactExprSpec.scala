package graft

import graft.operators.Opq
import org.apache.spark.sql.{GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The round-18 codegen'd exact-arithmetic expressions (WhtRotate,
  * HouseholderReflect, LongDotProduct) against the interpreted
  * higher-order-function pipelines they replaced: BIT-IDENTITY on
  * random contract-range vectors plus the null/shape edges — the
  * optimization must not move a single output bit, because the DuckDB
  * oracle replays the HOF arithmetic verbatim. Likewise ExactDecimalSum
  * against the `sum(cast(x AS decimal(28,10)))` the oracles replay. */
class ExactExprSpec extends SparkSpec {

  private def vecDf(rows: Seq[Seq[java.lang.Double]]) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(v =>
        Row(if (v == null) null else v)): _*),
      StructType(Seq(StructField("emb",
        ArrayType(DoubleType, containsNull = true), nullable = true))))

  private def bits(d: Double) = java.lang.Double.doubleToLongBits(d)

  /** Random vectors in the operators' contract range (|x| < 100, most
    * mass near unit scale), with half-boundary stress values mixed in:
    * k/2·1e-6 quantizes to exactly .5 in micro-units — the HALF_UP
    * boundary the quantize must hit identically. */
  private def randomVecs(n: Int, dim: Int, seed: Long): Seq[Seq[java.lang.Double]] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { _ =>
      Seq.tabulate[java.lang.Double](dim) { _ =>
        r.nextInt(4) match {
          case 0 => r.nextDouble() * 2 - 1
          case 1 => (r.nextInt(2000001) - 1000000) / 2.0 * 1e-6 // exact .5 boundaries
          case 2 => (r.nextDouble() * 200 - 100) * math.pow(10, -r.nextInt(8))
          case _ => r.nextGaussian()
        }
      }
    }
  }

  test("WhtRotate ≡ the HOF butterfly bit-for-bit (both rescale modes, " +
      "dims 2/16/64, random + half-boundary inputs)") {
    for (dim <- Seq(2, 16, 64)) {
      val df = vecDf(randomVecs(200, dim, seed = 7 * dim))
      val intRows = df.select(Opq.rotateInt(col("emb"), dim).as("fast"),
        Opq.rotateIntHof(col("emb"), dim).as("ref")).collect()
      intRows.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"dim $dim ints")
      }
      val dblRows = df.select(Opq.rotate(col("emb"), dim).as("fast"),
        Opq.rotateHof(col("emb"), dim).as("ref")).collect()
      dblRows.foreach { r =>
        val a = r.getSeq[Double](0); val b = r.getSeq[Double](1)
        assert(a.length == b.length, s"dim $dim len")
        a.zip(b).foreach { case (x, y) =>
          assert(bits(x) == bits(y), s"dim $dim: $x vs $y") }
      }
    }
  }

  test("WhtRotate edges: null vector → an array of dim nulls (the HOF's " +
      "sequence-driven shape); null elements spread through butterfly " +
      "partners exactly as the HOF's") {
    val rows: Seq[Seq[java.lang.Double]] = Seq(
      null,
      Seq[java.lang.Double](1.0, null, 3.0, 4.0),
      Seq[java.lang.Double](null, null, 1.5, -2.5))
    val df = vecDf(rows)
    val out = df.select(Opq.rotateInt(col("emb"), 4).as("fast"),
      Opq.rotateIntHof(col("emb"), 4).as("ref")).collect()
    (0 to 2).foreach { i =>
      assert(!out(i).isNullAt(0) && !out(i).isNullAt(1),
        s"row $i: the butterfly's output shape is sequence-driven")
      val a = out(i).getSeq[java.lang.Long](0)
      val b = out(i).getSeq[java.lang.Long](1)
      assert(a == b, s"row $i: $a vs $b")
    }
    assert(out(0).getSeq[java.lang.Long](0) == Seq(null, null, null, null))
  }

  test("HouseholderReflect ≡ the HOF reflection bit-for-bit (real PCA " +
      "axes at dims 16/64, random + half-boundary inputs)") {
    for (dim <- Seq(16, 64)) {
      val rows = randomVecs(150, dim, seed = 13 * dim)
      val df = vecDf(rows)
      // a plausible exact-integer axis (the operator's own construction)
      val q = Array.tabulate(dim)(i => 1000000L - (i * 977553L) % 1900000L)
      val u = Opq.householderFromPca(q)
      val fast = Opq.rotateHouseholder(df, "emb", u).collect()
      val ref = Opq.rotateHouseholderHof(df, "emb", u).collect()
      fast.zip(ref).foreach { case (fr, rr) =>
        val a = fr.getSeq[Double](0); val b = rr.getSeq[Double](0)
        assert(a.length == b.length)
        a.zip(b).foreach { case (x, y) =>
          assert(bits(x) == bits(y), s"dim $dim: $x vs $y") }
      }
    }
  }

  test("HouseholderReflect edges ≡ HOF: null vector, null element " +
      "(nulls every output element via the dot), length mismatch, u = 0") {
    val u = Opq.householderFromPca(Array.tabulate(4)(i => 800000L - 100000L * i))
    val rows: Seq[Seq[java.lang.Double]] = Seq(
      null,
      Seq[java.lang.Double](0.5, null, -0.25, 1.0),
      Seq[java.lang.Double](0.5, 1.0), // shorter than the axis
      Seq[java.lang.Double](0.5, 1.0, -1.0, 0.25, 0.75)) // longer
    val df = vecDf(rows)
    val fast = Opq.rotateHouseholder(df, "emb", u).collect()
    val ref = Opq.rotateHouseholderHof(df, "emb", u).collect()
    fast.zip(ref).zipWithIndex.foreach { case ((fr, rr), i) =>
      assert(fr.isNullAt(0) == rr.isNullAt(0), s"row $i nullness")
      if (!fr.isNullAt(0)) {
        val a = fr.getSeq[java.lang.Double](0)
        val b = rr.getSeq[java.lang.Double](0)
        assert(a == b, s"row $i: $a vs $b")
      }
    }
    // u = 0 identity path (unchanged doubles)
    val idem = Opq.rotateHouseholder(vecDf(Seq(Seq[java.lang.Double](1.5, -2.5, 0.0, 3.25))),
      "emb", Array.fill(4)(0L)).collect()(0).getSeq[Double](0)
    assert(idem == Seq(1.5, -2.5, 0.0, 3.25))
  }

  test("LongDotProduct ≡ the HOF fold bit-for-bit, with the zip_with " +
      "null-padding edges") {
    def dfL(rows: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])]) =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (a, b) => Row(a, b) }: _*),
        StructType(Seq(
          StructField("a", ArrayType(LongType, containsNull = true), nullable = true),
          StructField("b", ArrayType(LongType, containsNull = true), nullable = true))))
    def fast(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      GraftBridge.column(graft.functions.LongDotProduct(
        GraftBridge.expression(a), GraftBridge.expression(b)))
    def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val r = new scala.util.Random(41)
    val random = (0 until 200).map { _ =>
      val d = 1 + r.nextInt(16)
      (Seq.fill[java.lang.Long](d)(r.nextInt(2000000001).toLong - 1000000000L),
        Seq.fill[java.lang.Long](d)(r.nextInt(2000000001).toLong - 1000000000L))
    }
    val edges: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = Seq(
      (null, Seq[java.lang.Long](1L)),
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L)), // mismatch → null
      (Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](4L, 5L, 6L)), // null elem → null
      (Seq.empty[java.lang.Long], Seq.empty[java.lang.Long])) // empty → 0
    val out = dfL(random ++ edges)
      .select(fast(col("a"), col("b")).as("fast"), hof(col("a"), col("b")).as("ref"))
      .collect()
    out.zipWithIndex.foreach { case (row, i) =>
      assert(row.isNullAt(0) == row.isNullAt(1), s"row $i nullness")
      if (!row.isNullAt(0))
        assert(row.getLong(0) == row.getLong(1), s"row $i value")
    }
    // the empty-array row folds to the zero accumulator, not null
    assert(out.last.getLong(0) == 0L)
  }

  // ---------------------------------------------------------------------
  // ExactDecimalSum ≡ sum(cast(x AS decimal(28,10)))

  import graft.functions.ExactDecimalSum
  import org.scalacheck.{Gen, Prop, Test => SCTest}

  private def check(p: Prop, tests: Int): Unit = {
    val r = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(tests).withInitialSeed(20L), p)
    assert(r.passed, r.status.toString)
  }

  /** Doubles x with x·10¹⁰ a few ulps either side of a half-way point
    * (k + 0.5)·10⁻¹⁰, k below 10^kDigits. */
  private def nearTie(kDigits: Int): Gen[Double] = for {
    k <- Gen.chooseNum(0L, math.pow(10, kDigits).toLong)
    ulps <- Gen.chooseNum(-3, 3)
    neg <- Gen.oneOf(false, true)
  } yield {
    var x = (k + 0.5) * 1e-10
    var i = 0
    while (i < ulps.abs) { x = if (ulps > 0) Math.nextUp(x) else Math.nextDown(x); i += 1 }
    if (neg) -x else x
  }

  /** Finite doubles below 1e18: mantissas at magnitudes 10⁻¹²..10¹⁷ (both
    * sides of the kernel's 2^18 fallback bound), near-ties, and decimals
    * with exactly 10 and 11 places. */
  private val finiteValue: Gen[Double] = Gen.frequency(
    4 -> (for {
      m <- Gen.chooseNum(-1.0, 1.0)
      e <- Gen.chooseNum(-12, 17)
    } yield m * math.pow(10, e)),
    2 -> Gen.oneOf(nearTie(6), nearTie(9), nearTie(14)),
    1 -> Gen.chooseNum(-99999999999L, 99999999999L).map(_ * 1e-10),
    1 -> Gen.chooseNum(-99999999999L, 99999999999L).map(_ * 1e-11),
    1 -> Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      0.5e-10, -0.5e-10, 1.5e-10, 262143.99999999997, 262144.00000000006,
      9.99999999999999e17, -9.99999999999999e17))

  test("ExactDecimalSum kernel: the fast unscaled value ≡ Double.toString " +
      "rounded half-up to 10 places wherever it is taken, and it is taken " +
      "for nearly every unit-scale value") {
    def reference(x: Double): Long =
      new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(10, java.math.RoundingMode.HALF_UP).unscaledValue.longValueExact
    check(Prop.forAll(finiteValue) { x =>
      val f = ExactDecimalSum.fastUnscaled(x)
      f == ExactDecimalSum.Fallback || f == reference(x)
    }, tests = 20000)
    val r = new scala.util.Random(3)
    val unit = Seq.fill(100000)(r.nextGaussian())
    assert(unit.forall { x =>
      val f = ExactDecimalSum.fastUnscaled(x)
      f == ExactDecimalSum.Fallback || f == reference(x)
    })
    val taken = unit.count(x => ExactDecimalSum.fastUnscaled(x) != ExactDecimalSum.Fallback)
    assert(taken >= 99990, s"fast path taken for $taken of 100000")
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 262144.0,
      1e18, -1e300).foreach(x =>
      assert(ExactDecimalSum.fastUnscaled(x) == ExactDecimalSum.Fallback, s"$x"))
    assert(ExactDecimalSum.fastUnscaled(-0.0) == 0L)
    assert(ExactDecimalSum.fastUnscaled(2.9e-11) == 0L)
  }

  test("ExactDecimalSum kernel: the two-long accumulator adds, overflows " +
      "at 10^38 and builds its decimal exactly as BigInteger does") {
    import java.math.BigInteger
    val bound = BigInteger.TEN.pow(38)
    val mask = BigInteger.ONE.shiftLeft(64).subtract(BigInteger.ONE)
    def halves(v: BigInteger) = (v.shiftRight(64).longValue, v.longValue)
    val big: Gen[BigInteger] = Gen.oneOf(
      Gen.chooseNum(Long.MinValue, Long.MaxValue).map(BigInteger.valueOf(_)),
      for { a <- Gen.chooseNum(Long.MinValue, Long.MaxValue); b <- Gen.chooseNum(0, 62) }
        yield BigInteger.valueOf(a).shiftLeft(b),
      Gen.chooseNum(-3L, 3L).map(d => bound.subtract(BigInteger.ONE).add(BigInteger.valueOf(d))),
      Gen.chooseNum(-3L, 3L).map(d => bound.negate.add(BigInteger.ONE).add(BigInteger.valueOf(d))),
      Gen.chooseNum(0L, Long.MaxValue).map(d => bound.subtract(BigInteger.valueOf(d)))
    ).map(v => if (v.abs.compareTo(bound) >= 0) bound.subtract(BigInteger.ONE) else v)
    check(Prop.forAll(big, big) { (a, b) =>
      val ((ah, al), (bh, bl)) = (halves(a), halves(b))
      val l = al + bl
      val h = ExactDecimalSum.sumHi(ah, al, bh, l)
      val sum = a.add(b)
      val over = ExactDecimalSum.overflows(ah, bh, h, l)
      val got = BigInteger.valueOf(h).shiftLeft(64).or(BigInteger.valueOf(l).and(mask))
      over == (sum.abs.compareTo(bound) >= 0) &&
        (over || (got == sum && ExactDecimalSum.toDecimal(h, l) ==
          org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(sum, 10), 38, 10)))
    }, tests = 5000)
  }

  private val groupedSchema = StructType(Seq(
    StructField("g", IntegerType, nullable = false),
    StructField("x", DoubleType, nullable = true)))

  /** Each side's rows, or its error condition, under the given settings. */
  private def bothSums(rows: Seq[(Int, java.lang.Double)], parts: Int,
      ansi: Boolean, codegen: Boolean = true) = {
    val keys = Seq("spark.sql.ansi.enabled", "spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
    if (!codegen) {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    }
    try {
      val df = spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (g, x) => Row(g, x) }: _*),
        groupedSchema).repartition(parts)
      def outcome(agg: org.apache.spark.sql.Column) =
        try Right(df.groupBy("g").agg(agg.as("s")).orderBy("g").collect().toSeq
          .map(r => (r.getInt(0), Option(r.getDecimal(1)))))
        catch {
          case e: org.apache.spark.SparkThrowable => Left(e.getCondition)
          case e: Exception => Left(e.getClass.getName)
        }
      (outcome(ExactDecimalSum.of(col("x"))),
        outcome(sum(col("x").cast("decimal(28,10)"))))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("ExactDecimalSum ≡ sum(cast(x AS decimal(28,10))) per group: random " +
      "doubles at several magnitudes, near-ties, nulls and ±0.0, one-row and " +
      "all-null groups; ANSI on and off, 1 and 4 partitions") {
    val row: Gen[(Int, java.lang.Double)] = for {
      g <- Gen.frequency(6 -> Gen.chooseNum(0, 5), 1 -> Gen.chooseNum(6, 40))
      x <- Gen.frequency(9 -> finiteValue.map(java.lang.Double.valueOf),
        1 -> Gen.const(null: java.lang.Double))
    } yield (g, x)
    // group 99 is all-null
    val rows = Gen.listOfN(120, row).map(_ ++ Seq((99, null), (99, null)))
    for (ansi <- Seq(false, true); parts <- Seq(1, 4))
      check(Prop.forAll(rows) { rs =>
        val (fast, ref) = bothSums(rs, parts, ansi)
        assert(ref.isRight, s"reference failed: $ref")
        fast == ref
      }, tests = 8)
    // the interpreted path agrees too
    check(Prop.forAll(rows) { rs =>
      val (fast, ref) = bothSums(rs, 4, ansi = false, codegen = false)
      fast == ref
    }, tests = 4)
  }

  test("ExactDecimalSum ≡ the cast sum on NaN, ±Inf and |x| ≥ 1e18 (null " +
      "casts skipped, or Spark's own ANSI error), and on an empty input") {
    val specials: Seq[java.lang.Double] = Seq(Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, 1e18, -1e18, 1e19,
      -4.5e300, Double.MaxValue)
    for (ansi <- Seq(false, true); parts <- Seq(1, 4); x <- specials) {
      val rows = Seq((1, x), (1, java.lang.Double.valueOf(0.25)), (2, x))
      val (fast, ref) = bothSums(rows, parts, ansi)
      assert(fast == ref, s"x=$x ansi=$ansi parts=$parts")
      // Spark's cast gives NaN and ±Inf a null even under ANSI; only a
      // finite |x| ≥ 1e18 is an ANSI error
      val ansiError = ansi && !x.isNaN && !x.isInfinite
      assert(ansiError == ref.isLeft, s"x=$x ansi=$ansi: $ref")
    }
    for (ansi <- Seq(false, true)) {
      val (fast, ref) = bothSums(Seq.empty, 2, ansi)
      assert(fast == ref && fast == Right(Seq.empty))
      val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](),
        groupedSchema)
      val r = empty.agg(ExactDecimalSum.of(col("x")),
        sum(col("x").cast("decimal(28,10)"))).collect().head
      assert(r.isNullAt(0) && r.isNullAt(1))
      assert(r.schema(0).dataType == r.schema(1).dataType)
    }
  }

  test("ExactDecimalSum plans as a codegen'd hash aggregate") {
    val df = spark.range(100).select((col("id") % 3).as("g"),
        (col("id") * 0.1).as("x"))
      .groupBy("g").agg(ExactDecimalSum.of(col("x")).as("s"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate") &&
      !plan.contains("SortAggregate"), plan)
    assert(plan.contains("graft_exact_decimal_sum"), plan)
    df.collect(): Unit
    val codegen = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(codegen.contains("ExactDecimalSum.fastUnscaled"), "kernel not in codegen")
    val bad = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(3).agg(ExactDecimalSum.of(col("id"))).collect())
    assert(bad.getMessage.contains("graft_exact_decimal_sum expects a double"))
  }

  /** NearestRow's contract computed on the driver: row i's key
    * −2·v·rows(i) + |rows(i)|² (NULL elements as 0, the common prefix),
    * rows sorted by (key, i) with −0.0 = 0.0 and NaN last. */
  private def rankedRows(v: Seq[java.lang.Double],
      rows: Seq[Seq[Double]]): Seq[(Double, Int)] =
    rows.zipWithIndex.map { case (c, i) =>
      val s = v.zip(c).foldLeft(0.0) { case (acc, (x, y)) =>
        if (x == null) acc else acc + x * y }
      (-2.0 * s + c.foldLeft(0.0)((a, x) => a + x * x), i)
    }.sortBy { case (d, i) => (if (d == 0.0) 0.0 else d, i) }(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))

  /** Every vector's argmin (d, i) and top-n for each n, engine vs driver. */
  private def checkNearestRow(vecs: Seq[Seq[java.lang.Double]],
      rows: Seq[Seq[Double]], ns: Seq[Int], what: String): Unit = {
    import graft.functions.VectorOps.nearestRow
    val df = spark.createDataFrame(
        java.util.Arrays.asList(vecs.zipWithIndex.map { case (v, i) =>
          Row(i, if (v == null) null else v) }: _*),
        StructType(Seq(StructField("id", IntegerType, nullable = false),
          StructField("emb", ArrayType(DoubleType, containsNull = true),
            nullable = true))))
      .repartition(2) // an exchange, so the projection is not folded away
    val out = df.select(col("id") +: nearestRow(col("emb"), rows).as("b") +:
        ns.map(n => nearestRow(col("emb"), rows, Some(n))): _*)
    val got = out.collect().sortBy(_.getInt(0))
    assert(got.length == vecs.length)
    got.foreach { r =>
      val v = vecs(r.getInt(0))
      if (v == null) (1 to ns.length + 1).foreach(c =>
        assert(r.isNullAt(c), s"$what: a NULL vector ranks to NULL"))
      else {
        val ref = rankedRows(v, rows)
        val b = r.getStruct(1)
        assert(b.getInt(1) == ref.head._2 && bits(b.getDouble(0)) == bits(ref.head._1),
          s"$what: argmin ${b} vs ${ref.head} for $v")
        ns.zipWithIndex.foreach { case (n, c) =>
          assert(r.getSeq[Int](c + 2) == ref.take(n).map(_._2),
            s"$what: top-$n of $v")
        }
      }
    }
  }

  private def withCodegen(codegen: Boolean)(body: => Unit): Unit = {
    val settings =
      if (codegen) Seq("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
      else Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (codegen <- Seq(true, false))
    test(s"NearestRow argmin and top-n ≡ a driver sort by (key, index) " +
        s"(${if (codegen) "codegen only" else "interpreted"}): random " +
        "matrices at k = 1, 5, 30, 300, ties, ±0.0, NaN, empty and NULL " +
        "vectors, NULL elements, n = 0 and n ≥ k") {
      withCodegen(codegen) {
        val r = new scala.util.Random(41)
        for (k <- Seq(1, 5, 30, 300)) {
          val dim = 8
          val base = Seq.fill(k)(Seq.fill(dim)(
            math.rint(r.nextGaussian() * 4) / 4)) // coarse values tie often
          // a duplicated row ties its original on every vector
          val rows = if (k > 3) base.updated(3, base(1)) else base
          val vecs = randomVecs(40, dim, seed = k) ++ Seq(
            null, Seq.empty[java.lang.Double],
            Seq[java.lang.Double](null, 1.0, null, -2.0, 0.5, null, 0.0, 3.0),
            Seq.fill[java.lang.Double](dim)(-0.0),
            Seq[java.lang.Double](1.0, 2.0)) // shorter than a row
          checkNearestRow(vecs, rows, Seq(0, 1, 3, k, k + 5), s"k=$k")
        }
        // −0.0 components tie 0.0; a NaN component puts its row last;
        // an infinite norm ranks below every finite key
        val edge = Seq(Seq(0.0, 0.0), Seq(-0.0, 0.0), Seq(Double.NaN, 1.0),
          Seq(1e200, 0.0), Seq(0.0, -0.0))
        val vs = Seq(Seq[java.lang.Double](0.0, 0.0),
          Seq[java.lang.Double](-0.0, -0.0), Seq[java.lang.Double](1.0, 1.0),
          Seq[java.lang.Double](Double.NaN, 0.0), null,
          Seq.empty[java.lang.Double])
        checkNearestRow(vs, edge, Seq(0, 2, 5, 9), "edges")
        val b = vecDf(Seq(Seq[java.lang.Double](Double.NaN, 0.0)))
          .select(graft.functions.VectorOps.nearestRow(col("emb"), edge))
          .head().getStruct(0)
        assert(b.getDouble(0).isNaN && b.getInt(1) == 0,
          "every key NaN: the lowest index")
        if (codegen) {
          val df = vecDf(randomVecs(10, 2, seed = 3)).repartition(2)
            .select(graft.functions.VectorOps.nearestRow(col("emb"), edge,
              Some(2)))
          df.collect(): Unit
          assert(org.apache.spark.sql.execution.debug.codegenString(
            df.queryExecution.executedPlan).contains("NearestRow.nearestN"),
            "kernel not in codegen")
        }
      }
    }
}
