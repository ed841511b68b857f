package graft

import graft.operators.{Curation, Sampling, Unigram}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Training-data PREPARE CLI — the mechanics twin of [[Curate]] (which
 * owns the quality/dedup/split half): one command takes a curated
 * `documents` table through the oracle-checked q_prepare_e2e chain —
 * quality gate → unigram-LM tokenizer train+prune → TOTAL per-doc
 * token counts with the OOV char fallback → length-bucketed sequence
 * packing → shard-interleaved consumption order — and persists every
 * artifact a training loader needs:
 *
 *   graft.Prepare --data <parquetDir> --out <dir>
 *       [--minTokens 20] [--pieceLen 3] [--wordLen 8] [--minCount 2]
 *       [--keepPieces 10] [--window 6] [--shards 4] [--capacity 2048]
 *       [--salt prep1] [--order id|semantic] [--dim 64] [--orderK 16]
 *
 * `--order semantic` packs in the in-context-pretraining layout the
 * oracle-checked q_semantic_order / q_semantic_windows queries prove
 * (Shi et al. 2023): consumption positions come from
 * [[Curation.semanticOrder]] over `embeddings.parquet` in --data
 * (`vec_id` = doc_id, dim `--dim`, `--orderK` IVF cells), shards are
 * contiguous order ranges, and a sequence's slots fill in semantic
 * order — so each packed sequence carries RELATED documents instead of
 * hash-scattered ones ([[Sampling.packSequencesByOrder]]). Docs
 * without an embedding pack together at the tail in id order. The
 * default stays the hash-shuffled id-order layout; funnel accounting
 * is identical between the two (same admission filter, same seq/slot
 * math — PrepareSpec pins it).
 *
 * Artifacts (all plain parquet, any engine can read them):
 *   model.parquet        (piece, cost)              — the pruned tokenizer
 *   assignments.parquet  (doc_id, n_tokens, shard, bucket, seq_id, slot)
 *   sequences.parquet    (pos, shard, bucket, seq_id, n_docs,
 *                         used_tokens, padding)     — consumption order
 * plus a one-line JSON funnel report on stdout (gate → tokenize → pack
 * counts, padding total, OOV fallback share).
 *
 * Every stage is a library operator the registered queries already
 * oracle-check (`q_unigram_prune`, `q_unigram_oov`, `q_seq_pack`,
 * `q_prepare_e2e`) — the CLI adds orchestration and persistence, not
 * new semantics. Scale shape: the corpus is touched by the gate scan,
 * the vocabulary aggregate, one tokenize pass, and the packing window —
 * no driver state beyond the funnel counts; docs whose token count
 * exceeds `capacity` are reported (n_oversize), not silently dropped.
 */
object Prepare {

  final case class Report(nDocs: Long, nGated: Long, nPacked: Long,
      nOversize: Long, nSequences: Long, totalPadding: Long,
      nFallbackWords: Long, nWords: Long)

  def run(spark: SparkSession, dataDir: String, outDir: String,
      minTokens: Int = 20, pieceLen: Int = 3, wordLen: Int = 8,
      minCount: Long = 2L, keepPieces: Int = 10, window: Int = 6,
      shards: Int = 4, capacity: Int = 2048,
      salt: String = "prep1", order: String = "id",
      dim: Int = 64, orderK: Int = 16): Report = {
    require(Set("id", "semantic")(order),
      s"--order must be id | semantic, got $order")
    val docs = Read.parquet(spark, s"$dataDir/documents.parquet")
    val nDocs = docs.count()
    val gated = docs.filter(col("text").isNotNull &&
      size(split(col("text"), "\\s+")) >= minTokens)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nGated = gated.count()
    // the trainer's full-corpus vocabulary is a SUPERSET of the gated
    // corpus' words, so both serving passes below reuse it
    val voc = Unigram.boundedVocab(docs, "text", wordLen)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = Unigram.trainAndPrune(docs, "text", pieceLen, wordLen,
        minCount, keepPieces, vocab = Some(voc))
      .select(col("piece"), col("cost"))
      // model-scale; three consumers below. EAGER deliberately: the first
      // consumer is the coalesce(1) model write, and a lazy checkpoint
      // would materialize THROUGH the coalesce — a narrow 1-partition
      // dependency that computes the whole training DP in one task
      // (measured: q_prepare_e2e 2.8 -> 4.4 s when this was lazy).
      .localCheckpoint()
    model.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/model.parquet")
    // fallback share: the coverage number for the (window, model) pair
    val fb = Unigram.fertilityOov(gated, "doc_id", "text", "lang",
      model, pieceLen, window, vocab = Some(voc))
    val counts = Unigram.tokenCountsOov(gated, "doc_id", "text", model,
        pieceLen, window, vocab = Some(voc))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val packed =
      if (order == "id")
        Sampling.packSequences(counts, "doc_id", "n_tokens",
          salt, shards, capacity)
      else {
        // semantic layout: positions from the embedding-space sweep,
        // persisted — max(pos) and the packing join both consume it
        val sord = Curation.semanticOrder(
            Read.parquet(spark, s"$dataDir/embeddings.parquet")
              .select(col("vec_id"),
                graft.functions.VectorOps.asDouble(col("embedding"))
                  .as("emb")),
            "vec_id", "emb", dim, orderK)
          .select(col("vec_id"), col("pos"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // exclusive span bound (one scalar aggregate); empty embeddings
        // degenerate to span 1 = everything in the tail block
        val maxPos = sord.agg(max("pos")).collect()(0) match {
          case r if r.isNullAt(0) => -1L
          case r => r.getLong(0)
        }
        // docs without an embedding order at the span (tail block,
        // id-tiebroken) — packSequencesByOrder's declared convention
        val withOrd = counts
          .join(sord, counts("doc_id") === sord("vec_id"), "left")
          .withColumn("__ord", coalesce(col("pos"), lit(maxPos + 1)))
          .drop("vec_id", "pos")
        graft.operators.Scale.releaseAfterUse(
          Sampling.packSequencesByOrder(withOrd, "doc_id", "n_tokens",
            "__ord", maxPos + 2, shards, capacity).drop("__ord"),
          Seq(sord))
      }
    packed.write.mode("overwrite").parquet(s"$outDir/assignments.parquet")
    val asg = Read.parquet(spark, s"$outDir/assignments.parquet")
    val nPacked = asg.count()
    val nOversize = counts.filter(col("n_tokens") > capacity).count()
    val seqs = asg.groupBy("shard", "bucket", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("used_tokens"))
      .withColumn("padding", lit(capacity.toLong) - col("used_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("bucket", "seq_id")
    val ordered = seqs
      .withColumn("srank", row_number().over(w).cast("long"))
      .withColumn("pos",
        (col("srank") - 1) * shards + col("shard"))
      .select("pos", "shard", "bucket", "seq_id", "n_docs",
        "used_tokens", "padding")
    ordered.write.mode("overwrite").parquet(s"$outDir/sequences.parquet")
    val sq = Read.parquet(spark, s"$outDir/sequences.parquet")
    val (nSeq, pad) = {
      val r = sq.agg(count(lit(1)), sum(col("padding"))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val (nW, nF) = {
      val r = fb.agg(sum(col("n_words")), sum(col("n_fallback"))).collect()(0)
      (if (r.isNullAt(0)) 0L else r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    counts.unpersist(); gated.unpersist(); voc.unpersist()
    Report(nDocs, nGated, nPacked, nOversize, nSeq, pad, nF, nW)
  }

  /** Every flag the CLI accepts; each takes a value. */
  private val Flags = Set("data", "out", "minTokens", "pieceLen", "wordLen",
    "minCount", "keepPieces", "window", "shards", "capacity", "salt",
    "order", "dim", "orderK")

  /** Flag name → value, checked before any session is built. An unknown
    * flag fails (the strict policy of Anonymize/Curate/Ann: `--minToken 5`
    * must not quietly run with the default 20), and a missing --data or
    * --out is named. */
  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    val unknown = args.filter(_.startsWith("--")).filterNot(a => Flags(a.drop(2)))
    if (unknown.nonEmpty)
      sys.error(s"unknown argument(s): ${unknown.mkString(" ")}")
    val opts = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    if (!opts.contains("data")) sys.error("--data <parquetDir> required")
    if (!opts.contains("out")) sys.error("--out <dir> required")
    opts
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    def opt(name: String): Option[String] = opts.get(name)
    def intOpt(n: String, d: Int) = opt(n).map(_.toInt).getOrElse(d)
    val spark = Session("graft-prepare")
    try {
      val r = run(spark, opts("data"), opts("out"),
        minTokens = intOpt("minTokens", 20),
        pieceLen = intOpt("pieceLen", 3), wordLen = intOpt("wordLen", 8),
        minCount = intOpt("minCount", 2).toLong,
        keepPieces = intOpt("keepPieces", 10),
        window = intOpt("window", 6), shards = intOpt("shards", 4),
        capacity = intOpt("capacity", 2048),
        salt = opt("salt").getOrElse("prep1"),
        order = opt("order").getOrElse("id"),
        dim = intOpt("dim", 64), orderK = intOpt("orderK", 16))
      println(
        s"""{"order":"${opt("order").getOrElse("id")}",""" +
          s""""docs":${r.nDocs},"gated":${r.nGated},"packed":${r.nPacked},""" +
          s""""oversize":${r.nOversize},"sequences":${r.nSequences},""" +
          s""""padding":${r.totalPadding},"fallback_words":${r.nFallbackWords},""" +
          s""""words":${r.nWords}}""")
    } finally spark.stop()
  }
}
