package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Similarity

/** Recall measurement for the approximate-ANN operators against the exact
  * brute-force top-k — the tool that sets each validated gate's
  * `recallFloor` (q17/q32/q152). Run per scale factor:
  *
  *   sbt "runMain graft.tools.RecallProbe /root/testdata/sf0.01"
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Tables.session("graft-recall", 8)
    val emb = Tables.embeddings(spark, sfDir)
    val probes = emb.filter(col("vec_id") < 10)
    val k = 10
    val exact = Similarity.bruteForceTopK(emb, probes, k)
      .select("probe_id", "vec_id")
    def recall(name: String, approx: org.apache.spark.sql.DataFrame): Unit = {
      val hit = exact.join(approx.select("probe_id", "vec_id").distinct(),
        Seq("probe_id", "vec_id")).count()
      val tot = exact.count()
      println(f"[recall] $name%-10s $hit/$tot = ${hit.toDouble / tot}%.3f ($sfDir)")
    }
    recall("pq", Similarity.pqTopK(emb, probes, k, dim = 64))
    recall("pq_r16", Similarity.pqTopK(emb, probes, k, dim = 64, rerank = 16))
    recall("pq_m16", Similarity.pqTopK(emb, probes, k, dim = 64, m = 16, rerank = 16))
    recall("ivf", Similarity.ivfTopK(emb, probes, k))
    recall("lsh", Similarity.lshTopK(emb, probes, k, dim = 64))
    recall("nsw", graft.operators.Nsw.nswTopK(emb, probes, k))
    spark.stop()
  }
}
