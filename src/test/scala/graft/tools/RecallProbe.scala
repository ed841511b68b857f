package graft.tools

import graft.functions.VectorOps
import graft.operators.{Ivf, Opq, Pca, Pq, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Diagnostics: mean recall@10 of the IVF-PQ pipeline under each of the
 * four rotation modes (plain / WHT / learned rank-1 / learned rank-2)
 * with a CONFIGURABLE query count — the oracle-checked recall rows fix
 * 5 queries by convention, which is a high-variance estimate; this
 * probe answers whether a mode-vs-mode gap survives a larger sample.
 *
 * Usage: Test/runMain graft.tools.RecallProbe <sfDir> [nQueries]
 */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nq = args.lift(1).map(_.toInt).getOrElse(20)
    val spark = graft.Session("graft-recall-probe")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("emb"))
      .persist()
    def recall(frame: DataFrame): Double = {
      val f = frame.persist()
      val qs = f.filter(col("vec_id") < nq)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val centroids = Ivf.train(f, "vec_id", "emb", k = 16, iters = 0)
      val exact = Similarity.exactTopK(f, qs, 10)
        .select(col("q_id"), col("vec_id"))
      val adc = Pq.ivfAdcTopK(f, qs, centroids, nprobe = 4, topK = 10,
        m = 4, k = 8, dim = 64).select(col("q_id"), col("vec_id"))
      val r = exact.join(adc.withColumn("__h", lit(1L)),
          Seq("q_id", "vec_id"), "left")
        .agg((sum(coalesce(col("__h"), lit(0L))).cast("double")
          / count(lit(1))).as("r"))
        .head().getDouble(0)
      f.unpersist()
      r
    }
    val (d1, d2) = Pca.topDirections2(emb, "emb", 64)
    val u1 = Opq.householderFromPca(d1)
    val u2 = Opq.householder2FromPca(d2, u1)
    val modes = Seq(
      "plain" -> emb,
      "wht" -> emb.select(col("vec_id"),
        Opq.rotate(col("emb"), 64).as("emb")),
      "pca1" -> Opq.rotateHouseholder(emb, "emb", u1),
      "pca2" -> Opq.rotateHouseholder(
        Opq.rotateHouseholder(emb, "emb", u1), "emb", u2))
    val out = modes.map { case (m, f) => s""""$m":${recall(f)}""" }
    println(s"""{"sf":"$dir","n_queries":$nq,"recall@10":{${out.mkString(",")}}}""")
    spark.stop()
  }
}
