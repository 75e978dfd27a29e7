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

  /** Approximate top-k by IVFADC (Jégou §V): ADC search pruned by the
    * IVF coarse quantizer. Flat [[PqIndex]] ADC scans EVERY code row
    * per query — inherent to flat ADC and fine while the codes table is
    * small, but at 10⁹ vectors the scan is the cost. Here each code row
    * carries the IVF cell of its ORIGINAL vector (assigned at encode
    * time, [[Pq.cellCodes]]); a query attaches its `nProbe` nearest
    * cells and the ADC pass becomes a broadcast EQUI-join on `cell` —
    * candidates shrink to ~nProbe/C of the corpus, and against the
    * cell-partitioned on-disk index the scan itself prunes to the
    * probed cells. Shortlist and exact re-rank are the flat path's
    * ([[Pq.adcSearch]]), so the returned `cos` stays exact; `corpus`
    * is the vector store for that re-rank.
    */
  def search(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int = 4,
      rerankFactor: Int = 5): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    Pq.adcSearch(model, cellCodes, queries, corpus, idCol, vecCol, k,
        rerankFactor) { (qs, codesSide) =>
      val probes = Knn.assignCells(qs, "query_id", "qv", centroids, nProbe)
        .select(col("query_id"), col("qtab"), col("qn"), col("cell"))
      broadcast(probes).join(codesSide, "cell")
        .filter(col("query_id") =!= col("neighbor_id"))
    }
  }

  /** Persist as `<dir>/codebooks` + `<dir>/centroids` + `<dir>/cells`
    * (codes partitioned by cell — the layout partition pruning needs).
    */
  def save(dir: String): Unit = {
    val spark = cellCodes.sparkSession
    Pq.save(spark, model, s"$dir/codebooks")
    IvfIndex.saveCentroids(spark, centroids, dir)
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

  /** [[IvfPqSnapshot]]'s append write body — the vector-store sibling
    * of [[graft.dedup.MinHashIndex.append]]: encode a NEW batch with
    * the models saved at `dir` (one epoch dir; no refit, no old rows
    * rewritten) and parquet-append its codes into the cell
    * directories. The frozen-quantizer trade is the standard serving
    * contract (IVF cell boundaries and PQ codebooks stay fixed between
    * retrains; recall on drifted data degrades gradually and a periodic
    * refit rebuilds). Append-then-search ≡ encode-all-then-search is
    * spec-pinned, as is partition pruning on the appended index; the
    * store's compact folds the accreted small files back.
    */
  private[graft] def append(spark: SparkSession, dir: String,
      newVectors: DataFrame, idCol: String, vecCol: String): Unit = {
    Pq.cellCodes(newVectors, idCol, vecCol, Pq.load(spark, s"$dir/codebooks"),
        IvfIndex.loadCentroids(spark, dir))
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

  /** The cells are relaid one file per cell; the KB-scale models ride
    * the epoch rewrite verbatim (two single-file parquet round-trips).
    */
  private def relayout(spark: SparkSession, cur: String, next: String)(
      keep: DataFrame => DataFrame): Unit = {
    Seq("codebooks", "centroids").foreach { t =>
      spark.read.parquet(s"$cur/$t").coalesce(1)
        .write.mode("overwrite").parquet(s"$next/$t")
    }
    keep(spark.read.parquet(s"$cur/cells"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$next/cells")
  }

  def load(spark: SparkSession, dir: String): IvfPqIndex =
    IvfPqIndex(Pq.load(spark, s"$dir/codebooks"),
      IvfIndex.loadCentroids(spark, dir), spark.read.parquet(s"$dir/cells"))
}
