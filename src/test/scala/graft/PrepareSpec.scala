package graft

import org.apache.spark.sql.functions._

/** graft.Prepare CLI: artifacts written, funnel exact, order stable. */
class PrepareSpec extends SparkSpec {

  test("Prepare CLI: an unknown flag fails before any session is built") {
    val e = intercept[RuntimeException](Prepare.parseArgs(
      Array("--data", "d", "--out", "o", "--minToken", "5")))
    assert(e.getMessage == "unknown argument(s): --minToken")
    assert(Prepare.parseArgs(Array("--data", "d", "--out", "o",
      "--minTokens", "5")) == Map("data" -> "d", "out" -> "o", "minTokens" -> "5"))
  }

  test("Prepare CLI: a missing --data or --out is named") {
    assert(intercept[RuntimeException](Prepare.parseArgs(Array("--out", "o")))
      .getMessage == "--data <parquetDir> required")
    assert(intercept[RuntimeException](Prepare.parseArgs(Array("--data", "d")))
      .getMessage == "--out <dir> required")
  }

  test("Prepare.run writes model/assignments/sequences, the funnel " +
      "accounts for every doc, and the consumption order is a valid " +
      "shard interleave") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_prepare").toString
    val r = Prepare.run(spark, "/root/testdata/sf0.001", out)
    // funnel: gate is monotone and packing accounts for every gated doc
    // (a gated doc has >= 20 words, so its token count is >= 1; the only
    // pack drop is the oversize class, which is counted, never silent)
    assert(r.nGated <= r.nDocs)
    assert(r.nPacked + r.nOversize == r.nGated,
      s"packed ${r.nPacked} + oversize ${r.nOversize} != gated ${r.nGated}")
    assert(r.nWords > 0 && r.nFallbackWords <= r.nWords)
    // model: pruned vocabulary keeps the single-char floor
    val model = spark.read.parquet(s"$out/model.parquet")
    assert(model.columns.toSet == Set("piece", "cost"))
    assert(model.filter(length(col("piece")) === 1).count() > 0)
    // assignments: every packed doc exactly once, tokens within capacity
    val asg = spark.read.parquet(s"$out/assignments.parquet")
    assert(asg.count() == r.nPacked)
    assert(asg.select("doc_id").distinct().count() == r.nPacked)
    assert(asg.filter(col("n_tokens") > 2048).count() == 0)
    // sequences: positions unique, padding accounting matches the report
    val sq = spark.read.parquet(s"$out/sequences.parquet")
    assert(sq.count() == r.nSequences)
    assert(sq.select("pos").distinct().count() == r.nSequences)
    val pad = sq.agg(sum("padding")).collect()(0).getLong(0)
    assert(pad == r.totalPadding && pad >= 0)
    // per shard, pos walks the shard's comb: pos % shards == shard
    assert(sq.filter(pmod(col("pos"), lit(4)) =!= col("shard")).count() == 0)
    // sequences' docs reconcile with assignments
    val seqDocs = sq.agg(sum("n_docs")).collect()(0).getLong(0)
    assert(seqDocs == r.nPacked)
  }

  test("--order semantic: same funnel accounting as id order, slots fill " +
      "in semantic position order, shards are contiguous order ranges") {
    val outId = java.nio.file.Files
      .createTempDirectory("graft_prep_id").toString
    val outSem = java.nio.file.Files
      .createTempDirectory("graft_prep_sem").toString
    val data = "/root/testdata/sf0.001"
    val rId = Prepare.run(spark, data, outId)
    val rSem = Prepare.run(spark, data, outSem, order = "semantic")
    // funnel accounting identical: same admission filter, same docs
    assert(rSem.nDocs == rId.nDocs && rSem.nGated == rId.nGated &&
      rSem.nPacked == rId.nPacked && rSem.nOversize == rId.nOversize)
    val asg = spark.read.parquet(s"$outSem/assignments.parquet")
    assert(asg.select("doc_id").distinct().count() == rSem.nPacked)
    // recompute the semantic positions and pin the layout laws
    val sord = graft.operators.Curation.semanticOrder(
      spark.read.parquet(s"$data/embeddings.parquet")
        .select(col("vec_id"),
          graft.functions.VectorOps.asDouble(col("embedding")).as("emb")),
      "vec_id", "emb", dim = 64, k = 16)
    val rows = asg.join(sord, asg("doc_id") === sord("vec_id"), "left")
      .select(col("shard"), col("bucket"), col("seq_id"), col("slot"),
        col("pos"), asg("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) Long.MaxValue else r.getLong(4), r.getLong(5)))
    // (1) within every (shard, bucket, seq_id), slot order follows
    //     semantic pos (id tiebreak for the no-embedding tail block)
    rows.groupBy(t => (t._1, t._2, t._3)).foreach { case (g, rs) =>
      val bySlot = rs.sortBy(_._4).map(t => (t._5, t._6)).toSeq
      assert(bySlot == bySlot.sorted, s"sequence $g not in semantic order")
    }
    // (2) shards are contiguous order ranges: every doc WITH a position
    //     in shard s has pos strictly below every one in shard s+1
    val withPos = rows.filter(_._5 != Long.MaxValue)
    val maxByShard = withPos.groupBy(_._1).view
      .mapValues(_.map(_._5).max).toMap
    val minByShard = withPos.groupBy(_._1).view
      .mapValues(_.map(_._5).min).toMap
    maxByShard.keys.toSeq.sorted.sliding(2).foreach {
      case Seq(a, b) => assert(maxByShard(a) < minByShard(b),
        s"shards $a/$b overlap in semantic order")
      case _ =>
    }
    // (3) the id-order run hash-scatters: at least one shard pair overlaps
    //     (sanity that law 2 is not vacuous on this corpus)
    val asgId = spark.read.parquet(s"$outId/assignments.parquet")
      .join(sord, col("doc_id") === col("vec_id"))
      .select("shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val idMax = asgId.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val idMin = asgId.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val overlapping = idMax.keys.toSeq.sorted.sliding(2).exists {
      case Seq(a, b) => idMax(a) > idMin(b)
      case _ => false
    }
    assert(overlapping, "id-order shards unexpectedly range-partitioned")
  }

  test("composed CLI e2e (sf0.01): Curate (decontaminate + soft dedup) → " +
      "Prepare --order semantic → Ann build over the surviving " +
      "embeddings, with funnel accounting conserved across every tool " +
      "boundary") {
    val sf = "/root/testdata/sf0.01"
    val base = java.nio.file.Files
      .createTempDirectory("graft_chain").toString
    // a planted benchmark suite: two real corpus docs ARE the benchmark,
    // so the decontaminate stage must drop exactly their n-gram leaks
    val docs = Tables.load(spark, sf, "documents")
    val benchIds = docs.filter(col("text").isNotNull)
      .orderBy("doc_id").limit(2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    docs.filter(col("doc_id").isin(benchIds.toSeq: _*))
      .select("doc_id", "text")
      .write.parquet(s"$base/bench.parquet")
    // ---- stage 1: Curate
    val curOut = s"$base/curated"
    new java.io.File(curOut).mkdirs()
    val c = Curate.DefaultConfig.copy(dedup = "soft",
      decontBenchPath = s"$base/bench.parquet")
    Curate.writeConfig(s"$curOut/${Curate.ConfigFile}", c)
    val r = Curate.run(docs, c)
    val funnel = r.funnel.toMap
    // soft dedup keeps every gated doc; decontaminate then drops the
    // planted leaks (at least the 2 benchmark docs themselves)
    assert(funnel("afterDedup") == funnel("afterQuality"))
    assert(funnel("afterDecontaminate") <= funnel("afterDedup") - 2)
    assert(funnel("train") + funnel("val") == funnel("afterDecontaminate"))
    val train = r.train
    val nTrain = train.count()
    assert(nTrain == funnel("train"))
    assert(train.filter(col("doc_id").isin(benchIds.toSeq: _*)).count()
      == 0, "benchmark docs must not survive into train")
    // soft weights survive the tool boundary (mass ≤ #docs, > 0)
    assert(train.columns.contains("weight"))
    // ---- stage 2: Prepare --order semantic over the curated train set
    val prepIn = s"$base/prep_in"
    train.drop("weight").write.parquet(s"$prepIn/documents.parquet")
    spark.read.parquet(s"$sf/embeddings.parquet")
      .write.parquet(s"$prepIn/embeddings.parquet")
    val prepOut = s"$base/prepared"
    val p = Prepare.run(spark, prepIn, prepOut, order = "semantic")
    assert(p.nDocs == nTrain,
      s"Prepare must see exactly Curate's train docs: ${p.nDocs} != $nTrain")
    assert(p.nPacked + p.nOversize == p.nGated,
      "packing accounts for every gated doc across the boundary")
    assert(p.nSequences > 0)
    val asg = spark.read.parquet(s"$prepOut/assignments.parquet")
    assert(asg.count() == p.nPacked)
    // every packed doc is a curated train doc (no phantom rows appear)
    assert(asg.join(train, Seq("doc_id"), "left_anti").count() == 0)
    // ---- stage 3: Ann build over the SURVIVING embeddings
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .join(train.select(col("doc_id").as("vec_id")), Seq("vec_id"),
        "left_semi")
    val nEmb = emb.count()
    assert(nEmb > 0, "fixture ids overlap: surviving embeddings exist")
    emb.write.parquet(s"$base/surviving.parquet")
    val idx = s"$base/ann"
    val built = Ann.build(spark, s"$base/surviving.parquet", idx,
      k = 8, iters = 1, m = 4, codes = 8, dim = 64,
      idCol = "vec_id", vecCol = "embedding")
    assert(built == nEmb,
      s"every surviving embedding must index: $built != $nEmb")
    // the index serves over the curated corpus
    val served = Ann.search(spark, idx, s"$base/surviving.parquet", None,
      topK = 3, nprobe = 4, qIdCol = "vec_id", qVecCol = "embedding")
    assert(served.limit(1).count() > 0)
  }
}
