package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A TRAINED, PERSISTENT IVFADC index (Jégou TPAMI'11 §V) — the
  * composition of [[IvfIndex]]'s coarse quantizer with [[PqIndex]]'s
  * code compression, and the standard billion-scale ANN layout: the
  * stored artifact is the codes table (m bytes per vector) PARTITIONED
  * BY IVF CELL, plus two KB-scale models (centroids + codebooks).
  *
  * A search probes `nProbe` cells per query; against the loaded index
  * the broadcast equi-join on `cell` lets Spark's dynamic partition
  * pruning scan ONLY the probed cells' files — so per-query work is
  * nProbe/C of an already-32×-compressed table, where flat
  * [[PqIndex]] ADC scans every code row. Float vectors stay in the
  * caller's store and are read only for the rerank·k shortlist.
  */
final case class IvfPqIndex(
    model: Pq.Model,
    centroids: Array[(Int, Array[Float])],
    cellCodes: DataFrame) {

  /** Approximate top-k; `corpus` is the vector store for the exact
    * re-rank of the ADC shortlist (see [[Pq.searchEncodedCells]]).
    */
  def search(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 4,
      rerankFactor: Int = 5): DataFrame =
    Pq.searchEncodedCells(model, centroids, cellCodes, queries, corpus,
      idCol, vecCol, k, nProbe, rerankFactor)

  /** Persist as `<dir>/codebooks` + `<dir>/centroids` + `<dir>/cells`
    * (codes partitioned by cell — the layout partition pruning needs).
    */
  def save(dir: String): Unit = {
    val spark = cellCodes.sparkSession
    import spark.implicits._
    Pq.save(spark, model, s"$dir/codebooks")
    centroids.map { case (cid, v) => (cid, v.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    cellCodes.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/cells")
  }
}

object IvfPqIndex extends graft.util.Epochs.Layout {

  type Index = IvfPqIndex

  /** Train both quantizers and encode the corpus. The Lloyd fits are
    * the corpus-scan half; encode+assign is one more map pass.
    */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
      c: Int = 16, m: Int = 8, ks: Int = 16, iters: Int = 3): IvfPqIndex =
    fitWith(corpus, idCol, vecCol,
      Knn.fitCentroids(corpus, idCol, vecCol, c, iters),
      Pq.fit(corpus, idCol, vecCol, m, ks, iters))

  /** Assemble from ALREADY-FITTED models (the centroid/codebook caches
    * a serving layer holds) — encode+assign only, one corpus pass.
    */
  def fitWith(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Int, Array[Float])], model: Pq.Model): IvfPqIndex =
    IvfPqIndex(model, centroids,
      Pq.cellCodes(corpus, idCol, vecCol, model, centroids))

  /** Day-2 ingestion — the vector-store sibling of
    * [[graft.dedup.MinHashIndex.append]]: encode a NEW batch with the
    * SAVED models (no refit, no old rows rewritten) and parquet-append
    * its codes into the cell directories. The frozen-quantizer trade
    * is the standard serving contract (IVF cell boundaries and PQ
    * codebooks stay fixed between retrains; recall on drifted data
    * degrades gradually and a periodic refit rebuilds). Append-then-
    * search ≡ encode-all-then-search is spec-pinned, as is partition
    * pruning on the appended index. Accreted small files are
    * [[MinHashIndex.compactSaved]]'s lesson — run [[compactSaved]] on
    * the cells table when batch count grows.
    */
  def append(spark: SparkSession, dir: String, newVectors: DataFrame,
      idCol: String, vecCol: String): Unit = {
    val model = Pq.load(spark, s"$dir/codebooks")
    val centroids = spark.read.parquet(s"$dir/centroids")
      .collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Seq[Float]]("centroid").toArray))
      .sortBy(_._1)
    Pq.cellCodes(newVectors, idCol, vecCol, model, centroids)
      .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
  }

  def save(index: IvfPqIndex, dir: String): Unit = index.save(dir)

  /** The saved cells table's id column — the search contract's
    * `neighbor_id` ([[Pq.cellCodes]]), whatever id column fed it.
    */
  def ids(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/cells").select("neighbor_id")

  /** Rewrite the cells table's accreted per-append files into one file
    * per cell directory. Search results are byte-identical
    * before/after; only file layout changes.
    */
  def compactRewrite(spark: SparkSession)(cur: String, next: String): Unit =
    relayout(spark, cur, next)(identity)

  /** Takedown: searches over the rewritten cells never return `ids`. */
  def removeRewrite(spark: SparkSession, ids: Seq[Long])(
      cur: String, next: String): Unit =
    relayout(spark, cur, next)(
      _.filter(!col("neighbor_id").isInCollection(ids)))

  /** The cells are relaid one file per cell. The KB-scale models ride
    * an epoch rewrite verbatim (two single-file parquet round-trips);
    * the flat in-place form (`next` is `cur`'s staging dir) leaves them
    * in place, so a flat [[append]] reading them never meets a swap.
    */
  private def relayout(spark: SparkSession, cur: String, next: String)(
      keep: DataFrame => DataFrame): Unit = {
    if (!next.startsWith(s"$cur/"))
      Seq("codebooks", "centroids").foreach { t =>
        spark.read.parquet(s"$cur/$t").coalesce(1)
          .write.mode("overwrite").parquet(s"$next/$t")
      }
    keep(spark.read.parquet(s"$cur/cells"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$next/cells")
  }

  def load(spark: SparkSession, dir: String): IvfPqIndex = {
    // by NAME, not ordinal — same self-describing on-disk contract as
    // LshIndex.load / IvfIndex.load
    val centroids = spark.read.parquet(s"$dir/centroids")
      .collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Seq[Float]]("centroid").toArray))
      .sortBy(_._1)
    IvfPqIndex(Pq.load(spark, s"$dir/codebooks"), centroids,
      spark.read.parquet(s"$dir/cells"))
  }
}
