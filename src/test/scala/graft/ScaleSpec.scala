package graft

import graft.operators.{Dedup, Layout, Scale, Similarity}
import graft.functions.VectorOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Skew salting and the LSH embedding-dedup scale path. */
class ScaleSpec extends SparkSpec {

  test("spreadForCompute widens a narrow file scan to the session width " +
      "via the analyzed-plan width estimate, and the non-scan fallback " +
      "(physical probe) preserves rows") {
    // scan/filter/project shape: the r17 probe estimates partitions from
    // the relation's cached file listing (no physical planning) — a small
    // single file must still be judged narrow and spread to full width
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") >= 0).select("doc_id", "text")
    val spreadN = Scale.spreadForCompute(docs, col("doc_id"))
      .rdd.getNumPartitions
    assert(spreadN == spark.sparkContext.defaultParallelism,
      s"expected session width, got $spreadN")
    // non-scan shape (aggregate): falls back to the physical probe; the
    // spread must never change WHAT the frame contains either way
    val agg = docs.groupBy("doc_id").count()
    val viaSpread = Scale.spreadForCompute(agg, col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val plain = agg.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    assert(viaSpread == plain)
    // round-robin twin, same file-scan estimate
    assert(Scale.spreadRoundRobin(docs).rdd.getNumPartitions
      == spark.sparkContext.defaultParallelism)
  }

  test("spreadIfScanNarrow fires only on provably-narrow scan shapes: " +
      "a small file scan spreads to session width; a post-shuffle frame " +
      "no-ops (no physical probe that would execute upstream stages)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang")
    assert(Scale.spreadIfScanNarrow(docs, Seq(col("doc_id")))
      .rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // non-scan shapes (a union — the Scale.upsert input class — and a
    // post-shuffle aggregate) must be returned UNTOUCHED: no repartition
    // inserted and, critically, no physical probe that would execute
    // upstream stages under AQE
    val unioned = docs.unionByName(docs)
    assert(Scale.spreadIfScanNarrow(unioned, Seq(col("doc_id"))) eq unioned)
    val agged = docs.groupBy("doc_id").count()
    val out = Scale.spreadIfScanNarrow(agged, Seq(col("doc_id")))
    assert(out eq agged)
  }

  test("saltedJoin returns exactly the plain join's rows, salt column dropped") {
    import spark.implicits._
    // heavily skewed: 90 rows of key 1, a few of others
    val large = ((1 to 90).map(i => (1L, s"v$i")) ++ Seq((2L, "x"), (3L, "y")))
      .toDF("k", "v")
    val small = Seq((1L, "one"), (2L, "two"), (4L, "four")).toDF("k", "name")
    val plain = large.join(small, Seq("k")).select("k", "v", "name")
      .orderBy("k", "v").collect().toSeq
    val salted = Scale.saltedJoin(large, small, "k", saltFactor = 8,
      saltFrom = Seq("k", "v")).select("k", "v", "name")
      .orderBy("k", "v").collect().toSeq
    assert(salted == plain)
    assert(salted.length == 91)
  }

  test("intervalJoin emits every overlap pair exactly once: touching " +
      "endpoints count, disjoint and empty intervals do not, and a pair " +
      "spanning many shared buckets is not duplicated") {
    import spark.implicits._
    val a = Seq(
      (1L, 0L, 10L),    // overlaps b1 (contained), b2 (touching at 10)
      (2L, 50L, 200L),  // spans many width-8 buckets with b3
      (3L, 300L, 310L), // disjoint from everything
      (4L, 20L, 15L))   // empty (hi < lo): dropped
      .toDF("aid", "lo_a", "hi_a")
    val b = Seq(
      (11L, 2L, 3L),    // inside a1
      (12L, 10L, 12L),  // touches a1 at exactly 10 (closed intervals)
      (13L, 60L, 190L), // shares ~17 buckets with a2 — must emit ONCE
      (14L, 400L, 500L))
      .toDF("bid", "lo_b", "hi_b")
    val got = Scale.intervalJoin(a, b, "lo_a", "hi_a", "lo_b", "hi_b",
        bucketWidth = 8)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sorted.toSeq == Seq((1L, 11L), (1L, 12L), (2L, 13L)),
      s"got ${got.toSeq}")
    // exactly-once: no pair appears twice even across shared buckets
    assert(got.distinct.length == got.length)
    // equivalence against the plain theta join on a denser random-ish grid
    val a2 = (0 until 40).map(i => (i.toLong, (i * 7 % 50).toLong,
      (i * 7 % 50 + i % 13).toLong)).toDF("aid", "lo_a", "hi_a")
    val b2 = (0 until 40).map(i => (i.toLong + 100, (i * 11 % 60).toLong,
      (i * 11 % 60 + i % 9).toLong)).toDF("bid", "lo_b", "hi_b")
    val fast = Scale.intervalJoin(a2, b2, "lo_a", "hi_a", "lo_b", "hi_b",
        bucketWidth = 5)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ref = a2.join(b2, col("lo_a") <= col("hi_b") &&
        col("lo_b") <= col("hi_a"))
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fast.sorted.toSeq == ref.sorted.toSeq)
    assert(fast.distinct.length == fast.length)
  }

  test("rowChecksum's PortableHash kernel equals the composed md5/conv form " +
      "on nulls, unicode, doubles, timestamps and decimals") {
    val schema = StructType(Seq(StructField("s", StringType),
      StructField("d", DoubleType), StructField("ts", TimestampType),
      StructField("m", DecimalType(18, 2)), StructField("n", LongType)))
    val ts = java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456")
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row("plain", 1.5, ts, new java.math.BigDecimal("12.34"), 7L),
      Row(null, null, null, null, null),
      Row("héllo wörld ✓ 日本語 🚀", -0.0, ts, new java.math.BigDecimal("-0.01"), -1L),
      Row("a|1b", Double.NaN, null, new java.math.BigDecimal("9999999999999999.99"), Long.MaxValue),
      Row("", 1e300, new java.sql.Timestamp(0L), null, Long.MinValue),
      Row("0", Double.NegativeInfinity, ts, new java.math.BigDecimal("0.00"), 0L)),
      schema)
    val cols = schema.fieldNames.toSeq
    // the composed form (CASE WHEN rendering, md5/conv hash) tableChecksum
    // summed before the kernel
    val rendered = cols.map { c =>
      val v = col(c).cast("string")
      when(col(c).isNull, lit("0"))
        .otherwise(concat(lit("1"), length(v).cast("string"), lit(":"), v))
    }
    val composed = conv(substring(md5(concat_ws("|", rendered: _*)), 1, 14), 16, 10)
      .cast("long")
    val rows = df.select(Scale.rowChecksum(cols).as("k"), composed.as("c"))
      .collect()
    assert(rows.length == 6)
    rows.foreach(r => assert(!r.isNullAt(0) && r.getLong(0) == r.getLong(1)))
    // every subset of the columns too (null-only and single-column rows)
    for (c <- cols) {
      val one = df.select(Scale.rowChecksum(Seq(c)).as("k"),
        conv(substring(md5(concat_ws("|", rendered(cols.indexOf(c)))), 1, 14),
          16, 10).cast("long").as("c")).collect()
      one.foreach(r => assert(r.getLong(0) == r.getLong(1), s"column $c"))
    }
  }

  test("tableChecksum: partitioning-invariant, null-safe, change-sensitive") {
    import graft.operators.Scale
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("c")))
      .toDF("id", "v")
    def digest(d: org.apache.spark.sql.DataFrame) =
      Scale.tableChecksum(d, Seq("id", "v")).head()
    val base = digest(df)
    // same rows, any layout/order → same digest
    assert(digest(df.repartition(7)) == base)
    assert(digest(df.orderBy(col("id").desc)) == base)
    // a changed value changes the digest; null vs "0" rendering cannot
    // collide (the flag prefix keeps the encoding injective)
    assert(digest(df.withColumn("v",
      when(col("id") === 3, "x").otherwise(col("v")))) != base)
    assert(digest(Seq((1L, Some("a")), (2L, Some("0")), (3L, Some("c")))
      .toDF("id", "v")) != base)
    // additively mergeable: shard digests sum to the whole corpus digest.
    // The digest leaves as a fixed-width zero-padded string (portable
    // rendering above int64); merge law holds on the parsed integers.
    val (a, b) = (df.filter(col("id") <= 1), df.filter(col("id") > 1))
    val (da, db) = (digest(a), digest(b))
    assert(da.getString(0).length == 38 && base.getString(0).length == 38)
    assert(BigInt(da.getString(0)) + BigInt(db.getString(0)) ==
      BigInt(base.getString(0)))
    assert(da.getLong(1) + db.getLong(1) == base.getLong(1))
  }

  test("saltedCountDistinct equals the plain COUNT(DISTINCT) on skewed data") {
    import spark.implicits._
    // hot key 1 holds 200 values with repeats; key 2 small; key 3 all dups
    val rows = (1 to 400).map(i => (1L, (i % 200).toLong)) ++
      (1 to 5).map(i => (2L, i.toLong)) ++ (1 to 9).map(_ => (3L, 7L))
    val df = rows.toDF("k", "v")
    val got = Scale.saltedCountDistinct(df, Seq("k"), "v", saltFactor = 8,
        alias = "nd")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 200L), (2L, 5L), (3L, 1L)))
  }

  test("HLL sketch slices union to the same estimate as one global sketch") {
    import spark.implicits._
    val df = (1 to 3000).map(i => (s"slice${i % 3}", s"val${i % 997}"))
      .toDF("slice", "v").repartition(5)
    // sliced build → union-merge
    val sliced = Scale.mergeDistinct(
      Scale.sketchDistinct(df.withColumn("g", lit("all")),
        Seq("g", "slice"), "v"), Seq("g"))
      .collect().head.getLong(1)
    // single global sketch
    val global = df.withColumn("g", lit("all"))
      .groupBy("g").agg(hll_sketch_estimate(hll_sketch_agg(col("v"))).as("e"))
      .collect().head.getLong(1)
    assert(sliced == global)      // merge is lossless over sketches
    assert(math.abs(sliced - 997L) <= 997 * 0.05) // and close to exact
  }

  test("madOutliers flags exactly the planted outlier, robust to its pull") {
    import spark.implicits._
    // group a: values 1..9 (median 5, MAD 2) plus one wild point 1000 —
    // with 10 points median 5.5, dev median (MAD) 2.5, threshold 7.5:
    // only 1000 exceeds it. A mean/stddev z-score would be dragged by the
    // 1000 itself; MAD is not.
    val df = ((1 to 9).map(i => ("a", i.toDouble)) :+ ("a", 1000.0))
      .toDF("g", "x")
    val out = Scale.madOutliers(df, Seq("g"), "x", k = 3.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(out == Seq(("a", 10L, 1L, 5.5, 2.5)))
  }

  test("LSH embedding near-dup finds the planted duplicate pair, no O(n^2)") {
    val base = Seq.tabulate(8)(i => math.sin(i + 1.0))
    val near = base.updated(0, base.head * 1.01)
    val far = Seq.tabulate(8)(i => math.cos(3.0 * i) * (if (i % 2 == 0) 1 else -1))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, base), Row(2L, near), Row(3L, far)),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("emb", ArrayType(DoubleType)))))
    val planes = Similarity.hyperplanes(4, 8)
    val out = Dedup.embeddingNearDupsLsh(df, "vec_id", "emb", 0.99, planes)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L)))
    // exact variant agrees on this fixture
    val exact = Dedup.embeddingNearDupsExact(df, "vec_id", "emb", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.toSeq == Seq((1L, 2L)))
  }

  test("semanticDedup keeps one survivor per within-cell duplicate set; " +
      "cross-cell near-dups are the declared recall trade") {
    // Two orthogonal centroids; ids 1,2 are near-dups in cell 0 (keep 1),
    // id 3 lives alone in cell 1, and id 4 is similar to id 3 but its
    // nearest centroid is cell 0 — a boundary straddler SemDeDup misses
    // by design.
    val c0 = Seq(1.0, 0.0); val c1 = Seq(0.0, 1.0)
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, Seq(0.9, 0.1)), Row(2L, Seq(0.92, 0.08)),
        Row(3L, Seq(0.1, 0.9)), Row(4L, Seq(0.6, 0.55))),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("emb", ArrayType(DoubleType)))))
    val got = Dedup.semanticDedup(df, "vec_id", "emb", Seq(c0, c1), 0.95)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // cos(1,2) ≈ 0.9997 ≥ 0.95 → 2 dropped; 3 and 4 sit in different
    // cells (cos(3,4) ≈ 0.75 anyway); 4 assigns to cell 0 where
    // cos(1,4) ≈ 0.81 and cos(2,4) ≈ 0.79 stay below the threshold
    assert(got == Set((1L, 0), (3L, 1), (4L, 0)))
  }

  test("semanticCells subsplits a planted hot cell: pair work is bounded " +
      "by maxCell, not quadratic in the cell") {
    // 2000 vectors all nearest ONE centroid — the degenerate-quantizer /
    // near-duplicate-mass case the cap exists for. Uncapped, the within-
    // cell self-join would expand to ~2M candidate pairs in a single key.
    val rnd = new scala.util.Random(11)
    val n = 2000; val maxCell = 100
    val rows = (0 until n).map(i =>
      Row(i.toLong, Seq.fill(4)(rnd.nextDouble() + 0.5)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("emb", ArrayType(DoubleType)))))
    val sizes = Dedup.semanticCells(df, "vec_id", "emb",
        Seq(Seq(1.0, 1.0, 1.0, 1.0)), maxCell)
      .groupBy(col("__sub")).agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1)).toSeq
    // ns = ceil(2000/100) = 20 subcells, every row still assigned
    assert(sizes.length == n / maxCell)
    assert(sizes.sum == n)
    // the hash split is balanced in expectation (E[size] = maxCell);
    // 2× covers sampling variance with huge margin
    assert(sizes.max <= 2L * maxCell,
      s"hot subcell of ${sizes.max} rows defeats the cap")
    // total pair work Σ sz² stays O(n·maxCell) — versus n² ≈ 4M uncapped
    val pairWork = sizes.map(s => s * s).sum
    assert(pairWork <= 4L * n * maxCell,
      s"pair work $pairWork is not linear in maxCell")
  }

  test("semanticDedup subsplitting only MISSES pairs: survivors(capped) " +
      "is a superset of survivors(uncapped), never a different drop") {
    val rnd = new scala.util.Random(13)
    // 60 vectors in one cell with planted near-dup mass: 20 bases, each
    // followed by two tiny perturbations of itself
    val rows = (0 until 20).flatMap { b =>
      val base = Seq.fill(4)(rnd.nextDouble() + 0.5)
      (0 until 3).map(j =>
        Row((3 * b + j).toLong, base.map(_ * (1.0 + j * 1e-4))))
    }
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("emb", ArrayType(DoubleType)))))
    val cents = Seq(Seq(1.0, 1.0, 1.0, 1.0))
    def survivors(maxCell: Int) =
      Dedup.semanticDedup(df, "vec_id", "emb", cents, 0.999, maxCell)
        .collect().map(_.getLong(0)).toSet
    val uncapped = survivors(Int.MaxValue)
    val capped = survivors(8)
    assert(uncapped.subsetOf(capped),
      s"capping dropped rows the uncapped run kept: ${uncapped -- capped}")
    // the cap is not a no-op here: with 60 rows split ns=8-ways, some
    // duplicate pairs straddle subcells and their drops are MISSED —
    // the strictly positive n_missed that q_semdedup_recall measures
    // oracle-checked on the fixture
    assert(capped.size > uncapped.size,
      "expected the planted hot cell to miss at least one cross-subcell drop")
    // …but same-subcell duplicate sets still collapse to one survivor:
    // uncapped keeps exactly the 20 base ids
    assert(uncapped == (0 until 20).map(b => 3L * b).toSet)
  }

  test("releaseAfterUse frees operator-held persists after the caller's " +
      "first action — no harness sweep needed") {
    import spark.implicits._
    val held = Seq.tabulate(100)(i => (i.toLong, i % 7))
      .toDF("id", "grp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val result = Scale.releaseAfterUse(
      held.groupBy("grp").agg(count(lit(1)).as("n")), Seq(held))
    assert(result.count() == 7) // the caller's one action
    // the unpersist rides the async listener bus; drain it, then poll
    // (storage dereg is itself async) before asserting
    org.apache.spark.GraftListenerBridge.waitForListeners(spark.sparkContext)
    val deadline = System.currentTimeMillis() + 10000
    while (held.storageLevel != org.apache.spark.storage.StorageLevel.NONE &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(held.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "held frame still cached after the result action completed")
  }

  test("every pair-finding / analytics operator frees its persists once " +
      "the caller's action completes (full releaseAfterUse migration)") {
    import spark.implicits._
    def assertNoBlocks(label: String)(run: => Unit): Unit = {
      SparkEntry.clear(spark)
      run
      org.apache.spark.GraftListenerBridge.waitForListeners(spark.sparkContext)
      val deadline = System.currentTimeMillis() + 10000
      while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$label left persisted blocks behind")
    }
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "completely different text with no overlap whatsoever here now"))
      .toDF("doc_id", "text")
    val embs = Seq((1L, Seq(0.9, 0.1)), (2L, Seq(0.91, 0.09)),
      (3L, Seq(0.1, 0.9))).toDF("vec_id", "emb")
    assertNoBlocks("nearDuplicates") {
      Dedup.nearDuplicates(docs, "doc_id", "text").count(): Unit
    }
    assertNoBlocks("nearDuplicatesDeltaPortable") {
      Dedup.nearDuplicatesDeltaPortable(docs, docs.filter(col("doc_id") === 2),
        "doc_id", "text").count(): Unit
    }
    assertNoBlocks("embeddingNearDupsLsh") {
      Dedup.embeddingNearDupsLsh(embs, "vec_id", "emb", 0.9,
        Seq(Seq(1.0, -1.0))).count(): Unit
    }
    assertNoBlocks("blockedFuzzyPairs") {
      graft.operators.Linkage.blockedFuzzyPairs(
        docs.select(col("doc_id"), col("text").substr(1, 8).as("nm")),
        "doc_id", "nm", col("nm").substr(1, 4), maxDist = 1).count(): Unit
    }
    assertNoBlocks("adcTopK") {
      graft.operators.Pq.adcTopK(
        (0L to 7L).map(i => (i, Seq(i.toDouble, 8 - i.toDouble)))
          .toDF("vec_id", "emb"),
        Seq((100L, Seq(1.0, 7.0))).toDF("q_id", "q_emb"),
        topK = 3, m = 2, k = 4, dim = 2).count(): Unit
    }
    assertNoBlocks("driftTvd") {
      graft.operators.Quality.driftTvd(docs, "doc_id",
        length(col("text")).cast("long")).count(): Unit
    }
    assertNoBlocks("Hierarchy.ancestors") {
      import spark.implicits._
      graft.operators.Hierarchy.ancestors(
        Seq((1L, None), (2L, Some(1L)), (3L, Some(2L)))
          .toDF("node", "parent"), "node", "parent", 4).count(): Unit
    }
    assertNoBlocks("Similarity.mmrSelect") {
      Similarity.mmrSelect(embs,
        Seq((99L, Seq(1.0, 0.2))).toDF("q_id", "q_emb"),
        candK = 3, k = 2).count(): Unit
    }
    assertNoBlocks("knBigramScore") {
      graft.operators.Curation.knBigramScore(docs, "doc_id", "text")
        .count(): Unit
    }
    assertNoBlocks("ivfAdcTopK") {
      graft.operators.Pq.ivfAdcTopK(
        (0L to 7L).map(i => (i, Seq(i.toDouble, 8 - i.toDouble)))
          .toDF("vec_id", "emb"),
        Seq((100L, Seq(1.0, 7.0))).toDF("q_id", "q_emb"),
        centroids = Seq(Seq(1.0, 7.0), Seq(7.0, 1.0)), nprobe = 1,
        topK = 3, m = 2, k = 4, dim = 2).count(): Unit
    }
  }

  test("semanticDedup leaves no operator-owned blocks once its caller's " +
      "action completes") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, Seq(0.9, 0.1)), Row(2L, Seq(0.92, 0.08)),
        Row(3L, Seq(0.1, 0.9))),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("emb", ArrayType(DoubleType)))))
    SparkEntry.clear(spark)
    val out = Dedup.semanticDedup(df, "vec_id", "emb",
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), 0.95)
    assert(out.count() == 2)
    org.apache.spark.GraftListenerBridge.waitForListeners(spark.sparkContext)
    val deadline = System.currentTimeMillis() + 10000
    while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "semanticDedup left persisted blocks behind")
  }

  test("zValue2 interleaves bits (x even positions, y odd)") {
    import spark.implicits._
    import graft.operators.Layout
    val df = Seq((1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
      .select(Layout.zValue2(col("x"), col("y")).as("z"))
    def morton(x: Long, y: Long): Long =
      (0 until 16).map(i => (((x >> i) & 1L) << (2 * i)) |
        (((y >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val got = df.collect().map(_.getLong(0)).toSeq
    assert(got == Seq(morton(1, 0), morton(0, 1), morton(3, 5),
      morton(65535, 65535)))
    assert(got.take(2) == Seq(1L, 2L))
    // randomized law: Spark expression ≡ reference morton, and z is
    // monotone along each axis with the other fixed (the property range
    // pruning relies on)
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val zs = pairs.toDF("x", "y")
      .select(Layout.zValue2(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(zs == pairs.map { case (x, y) => morton(x, y) })
    pairs.take(50).foreach { case (x, y) =>
      if (x < 65535) assert(morton(x, y) < morton(x + 1, y))
      if (y < 65535) assert(morton(x, y) < morton(x, y + 1))
    }
  }

  test("zorderWrite produces files with disjoint z-ranges") {
    import spark.implicits._
    import graft.operators.Layout
    val dir = java.nio.file.Files.createTempDirectory("graft-z").toString
    val df = (0 until 1024).map(i => (i.toLong % 32, i.toLong / 32))
      .toDF("x", "y")
    Layout.zorderWrite(df, "x", "y", dir, numFiles = 4)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    assert(files.size == 4)
    val ranges = files.map { f =>
      val z = spark.read.parquet(f)
        .select(Layout.zValue2(col("x"), col("y")).as("z"))
        .agg(min("z"), max("z")).head()
      (z.getLong(0), z.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi <= lo, s"overlap: $ranges")
      case _ =>
    }
  }

  test("z-ordered layout prunes row groups on the second dimension") {
    import spark.implicits._
    import graft.operators.Layout
    val dir = java.nio.file.Files.createTempDirectory("graft-zp").toString
    // 64k rows over a 256x256 grid; small row groups so stats matter
    val df = (0 until 65536).map(i => (i.toLong % 256, i.toLong / 256))
      .toDF("x", "y")
    val batchKey = "spark.sql.parquet.columnarReaderBatchSize"
    val saved = spark.conf.getOption(batchKey)
    spark.conf.set(batchKey, "4096")
    try {
      Layout.zorderWrite(
        df.withColumn("pad", lit("x" * 64)), "x", "y", dir, numFiles = 8)
      def rowsRead(filtered: org.apache.spark.sql.DataFrame): Long = {
        filtered.collect()
        filtered.queryExecution.executedPlan.collectLeaves()
          .map(_.metrics("numOutputRows").value).sum
      }
      // y is the SECOND interleaved dimension — a plain y-sorted layout
      // would not help an x predicate, but z-order bounds both axes.
      val zRead = rowsRead(spark.read.parquet(dir).filter(col("y") === 7))
      // observed ~16k of 64k (stats skip ~75% of row groups); guard at half
      assert(zRead < 65536 / 2, s"row-group stats should skip most data ($zRead)")
    } finally saved match {
      case Some(v) => spark.conf.set(batchKey, v)
      case None => spark.conf.unset(batchKey)
    }
  }

  test("upsert: change rows replace base rows by key; new keys insert") {
    import spark.implicits._
    val base = Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 0))
      .toDF("k", "v", "version")
    val changes = Seq((2L, "B", 1), (4L, "D", 1)).toDF("k", "v", "version")
    val out = Scale.upsert(base, changes, Seq("k"), "version")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
  }

  test("applyCdc: winning deletes remove keys, version ties prefer the " +
      "change, and replaying the feed is idempotent") {
    import spark.implicits._
    val base = Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 0))
      .toDF("k", "v", "version")
    val changes = Seq((1L, "a2", 1, "U"), (2L, "x", 1, "D"), (3L, "c9", 0, "U"),
      (4L, "zz", 1, "D")) // delete of a never-present key is a no-op
      .toDF("k", "v", "version", "op")
    val once = Scale.applyCdc(base, changes, Seq("k"), "version", "op")
    val got = once.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // 1 updated, 2 deleted, 3: version tie -> the change row wins
    assert(got == Set((1L, "a2", 1), (3L, "c9", 0)))
    // replay over the applied result changes nothing
    val twice = Scale.applyCdc(once, changes, Seq("k"), "version", "op")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(twice == got)
    // a NULL op (malformed upstream record) must upsert, never delete:
    // silent erasure is the one failure mode the primitive must not have
    val nullOp = Seq((1L, "a3", 2, null.asInstanceOf[String]))
      .toDF("k", "v", "version", "op")
    val withNull = Scale.applyCdc(base, nullOp, Seq("k"), "version", "op")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(withNull == Set((1L, "a3"), (2L, "b"), (3L, "c")))
  }

  test("snapshotDiff classifies I/D/U/=, null-safe on payload nulls") {
    import spark.implicits._
    val a = Seq((1L, Some("a"), 10), (2L, Some("b"), 20), (3L, None, 30),
      (4L, Some("d"), 40)).toDF("k", "v", "x")
    val b = Seq((1L, Some("a"), 10), (2L, Some("B"), 20), (3L, None, 30),
      (5L, Some("e"), 50)).toDF("k", "v", "x")
    val got = Scale.snapshotDiff(a, b, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // 1 identical, 2 payload change, 3 identical (null v on both sides
    // must compare EQUAL, not 'U'), 4 dropped, 5 added
    assert(got == Map(1L -> "=", 2L -> "U", 3L -> "=", 4L -> "D", 5L -> "I"))
    // the 8-byte-shuffle variant classifies identically here
    val hashed = Scale.snapshotDiff(a, b, Seq("k"), hashPayload = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hashed == got)
    // diff partitions both key universes: D+U+= covers a, I+U+= covers b
    assert(got.count { case (_, op) => op != "I" } == a.count())
    assert(got.count { case (_, op) => op != "D" } == b.count())
  }

  test("compact rewrites a fragmented table into few right-sized files") {
    import spark.implicits._
    import graft.operators.Layout
    val in = java.nio.file.Files.createTempDirectory("graft-frag").toString
    val out = java.nio.file.Files.createTempDirectory("graft-comp").toString
    // 64 tiny files
    (1 to 6400).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(64).write.mode("overwrite").parquet(in)
    def parquetFiles(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(in) == 64)
    Layout.compact(spark, in, out, targetBytes = 1L << 20)
    val n = parquetFiles(out)
    assert(n < 8, s"expected few compacted files, got $n")
    assert(spark.read.parquet(out).count() == 6400)
    intercept[IllegalArgumentException](Layout.compact(spark, in, in))
  }

  test("mergeCounts: incremental summary equals the full recompute") {
    import spark.implicits._
    val events = (1 to 300).map(i => (s"t${i % 3}", 1L, (i % 7).toLong))
      .toDF("k", "n", "v")
    val (a, b) = (events.limit(200), events.exceptAll(events.limit(200)))
    def summarize(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(sum("n").as("n"), sum("v").as("v"))
    val incremental = Scale.mergeCounts(summarize(a), summarize(b),
      Seq("k"), "n", Seq("v"))
      .orderBy("k").collect().toSeq
    val full = summarize(events).orderBy("k").collect().toSeq
    assert(incremental == full)
  }

  test("profile: per-column null/distinct/min/max in one aggregate pass") {
    import spark.implicits._
    val df = Seq((Some(1L), "x"), (Some(2L), "y"), (None, "y"))
      .toDF("id", "s")
    val out = Scale.profile(df, Seq("id", "s")).orderBy("column_name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5))).toSeq
    assert(out == Seq(
      ("id", 3L, 2L, 2L, "1", "2"),
      ("s", 3L, 3L, 2L, "x", "y")))
  }

  test("compactionBins: sorted fill per group, straddler stays in the " +
      "bin its prefix opened, groups pack independently") {
    import spark.implicits._
    // group a: sizes 6,6,6 at target 10 -> prefixes 0,6,12 -> bins 0,0,1
    // group b: one oversized item -> its own bin 0
    val files = Seq(
      ("a", 1L, 6L), ("a", 2L, 6L), ("a", 3L, 6L), ("b", 1L, 25L))
      .toDF("g", "ord", "bytes")
    val out = Layout.compactionBins(files, "g", "ord", "bytes", 10L)
      .orderBy("g", "bin").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("a", 0L, 2L, 12L), ("a", 1L, 1L, 6L), ("b", 0L, 1L, 25L)))
  }
}
