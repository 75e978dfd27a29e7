package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A TRAINED, ENCODED product-quantization index — encode once, search
  * many, completing the persistent-index family ([[LshIndex]],
  * [[IvfIndex]]). The stored artifact is the codes table (m ints per
  * vector — the in-memory representation when 100 TB of float32
  * embeddings don't fit) plus the KB-scale codebooks; the float vectors
  * themselves stay in the caller's store and are only read for the
  * shortlist re-rank, rerank·k rows per query.
  */
final case class PqIndex(model: Pq.Model, codes: DataFrame) {

  /** Approximate top-k by flat ADC — every code row is scored per
    * query — with the exact re-rank of [[Pq.adcSearch]]; `corpus` is
    * the vector store for that re-rank.
    */
  def search(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, rerankFactor: Int = 5): DataFrame =
    Pq.adcSearch(model, codes, queries, corpus, idCol, vecCol, k,
        rerankFactor) { (qs, codesSide) =>
      broadcast(qs.select(col("query_id"), col("qtab"), col("qn")))
        .join(codesSide, col("query_id") =!= col("neighbor_id"))
    }

  /** Persist as `<dir>/codebooks` + `<dir>/codes`. */
  def save(dir: String): Unit = {
    Pq.save(codes.sparkSession, model, s"$dir/codebooks")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
  }
}

object PqIndex {

  /** Fit codebooks and encode the corpus in one step. */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ks: Int = 16, iters: Int = 3): PqIndex = {
    val model = Pq.fit(corpus, idCol, vecCol, m, ks, iters)
    PqIndex(model, Pq.codes(corpus, idCol, vecCol, model))
  }

  def load(spark: SparkSession, dir: String): PqIndex =
    PqIndex(Pq.load(spark, s"$dir/codebooks"),
      spark.read.parquet(s"$dir/codes"))
}
