package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A TRAINED, PERSISTENT IVF (inverted-file) index: C centroids
  * learned by a few Lloyd iterations ([[Knn.fitCentroids]]), and the
  * corpus assigned to its nearest cell. Queries probe their nProbe
  * nearest cells and score only those cells' vectors.
  *
  * `fit` runs the Lloyd iterations once and assigns every corpus
  * vector (with its precomputed norm) to its nearest cell; `fitWith`
  * assigns against centroids the caller already holds. `save`
  * writes the assigned corpus PARTITIONED BY CELL plus a tiny centroid
  * table; `load` reopens it. A search against a loaded index joins the
  * broadcast query probes against the cell-partitioned table, and
  * Spark's dynamic partition pruning turns that into a scan of ONLY
  * the probed cells — at corpus scale a search touches
  * nProbe/C of the index files, which is the entire point of IVF.
  * The spec pins the `dynamicpruning` subquery in the plan.
  */
final case class IvfIndex(
    centroids: Array[(Int, Array[Float])], assigned: DataFrame) {

  /** Approximate top-k for `queries` against the indexed corpus. */
  def search(queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 4): DataFrame = {
    val scored = broadcast(Knn.cellProbes(queries, idCol, vecCol,
        centroids, nProbe))
      .join(assigned, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Knn.pairCos)
    Knn.pairTopK(scored, k)
  }

  /** Persist as `<dir>/centroids` + `<dir>/cells` (partitioned by cell). */
  def save(dir: String): Unit = {
    IvfIndex.saveCentroids(assigned.sparkSession, centroids, dir)
    assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/cells")
  }
}

object IvfIndex {

  /** Train centroids and assign the corpus; columns of `assigned`:
    * (neighbor_id, nv, nn, cell).
    */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
      c: Int = 16, iters: Int = 3): IvfIndex =
    fitWith(corpus, idCol, vecCol,
      Knn.fitCentroids(corpus, idCol, vecCol, c, iters))

  /** Assign the corpus to ALREADY-FITTED centroids (the centroid cache
    * a serving layer holds) — one map pass, no Lloyd iterations.
    */
  def fitWith(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Int, Array[Float])]): IvfIndex =
    IvfIndex(centroids, Knn.assignCells(
      Knn.withNorm(corpus, idCol, vecCol, "neighbor_id", "nv", "nn"),
      "neighbor_id", "nv", centroids, 1))

  def load(spark: SparkSession, dir: String): IvfIndex =
    IvfIndex(loadCentroids(spark, dir), spark.read.parquet(s"$dir/cells"))

  /** The one `<dir>/centroids` table format, shared with [[IvfPqIndex]]:
    * one single-file parquet of (cell, centroid).
    */
  private[sim] def saveCentroids(spark: SparkSession,
      centroids: Array[(Int, Array[Float])], dir: String): Unit = {
    import spark.implicits._
    centroids.map { case (cid, v) => (cid, v.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Read back [[saveCentroids]]' table by column NAME, not ordinal —
    * the same self-describing on-disk contract as [[LshIndex.load]] (a
    * column-order change must not scramble the model).
    */
  private[sim] def loadCentroids(spark: SparkSession,
      dir: String): Array[(Int, Array[Float])] =
    spark.read.parquet(s"$dir/centroids")
      .collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Seq[Float]]("centroid").toArray))
      .sortBy(_._1)
}
