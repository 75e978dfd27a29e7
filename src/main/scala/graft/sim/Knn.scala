package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-nearest-neighbor search over an `array<float>` embedding column.
  *
  * One contract (query_id, rank, neighbor_id, cos) for every path:
  *
  *  - `brute` (here): exact. Queries are broadcast against the corpus
  *    (the query set is the small side by construction); every (query,
  *    corpus) pair is scored with the native codegen dot product and
  *    ranked per query. The pair scoring is embarrassingly parallel;
  *    the rank is one shuffle keyed by query_id. This is the
  *    correctness baseline — at 100 TB its pair count is the problem,
  *    which is what the approximate paths fix.
  *
  *  - approximate: build a handle once, then call its `search` —
  *    [[LshIndex]] (random-hyperplane sign LSH, no fit step),
  *    [[IvfIndex]] (inverted file over the Lloyd centroids fitted
  *    here, [[fitCentroids]]), [[PqIndex]] and [[IvfPqIndex]] (ADC
  *    over product-quantization codes, flat or IVF-pruned).
  */
object Knn {

  private[sim] def pairTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  private[sim] def withNorm(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String, nAs: String): DataFrame =
    df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
      Vectors.normD(col(vecCol)).as(nAs))

  /** The scored pair's cosine, rounded to 6: query (qv, qn) against
    * neighbor (nv, nn).
    */
  private[sim] def pairCos: Column = round(
    Vectors.cosineWithNorms(Vectors.dotD(col("qv"), col("nv")),
      col("qn"), col("nn")), 6)

  private def scorePairs(qs: DataFrame, corpus: DataFrame): DataFrame =
    qs.join(corpus, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", pairCos)

  /** Exact brute-force top-k (query set broadcast). The corpus side is
    * fanned out to the cluster's default parallelism before the pair
    * scoring: the scoring stage's task count is otherwise capped by
    * the corpus SCAN's split count, and a small single-row-group
    * parquet file is ONE unsplittable split while the work above it is
    * |Q|·|C| dot products — the guide's unsplittable-input move
    * (repartition right after the read; the fan-out shuffle is
    * O(|C|·dim), the compute it parallelizes is O(|Q|·|C|·dim)).
    */
  def brute(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val qs = broadcast(withNorm(queries, idCol, vecCol, "query_id", "qv", "qn"))
    val cs = withNorm(graft.util.Fanout.ensure(corpus),
      idCol, vecCol, "neighbor_id", "nv", "nn")
    pairTopK(scorePairs(qs, cs), k)
  }

  // ---- IVF -------------------------------------------------------------

  /** The largest C×dim this driver-mediated Lloyd fit supports: each
    * iteration collects C×dim doubles of per-cell sums (plus row
    * overhead) to the driver — 16M doubles ≈ 128 MB, comfortably
    * inside a default driver heap while still admitting e.g. 16k cells
    * × 1k dims. Past it the collect silently becomes the job's
    * failure point, so the fit REFUSES loudly instead (spec-pinned).
    * Every centroid consumer hands the fitted centroids to the
    * [[graft.functions.NearestCells]] kernel as a driver-held array, so
    * a geometry past this ceiling could not be assigned either; fit
    * fewer cells or reduce the dimension first (graft.sim.Pca).
    */
  val MaxDriverFitCells: Long = 16L * 1024 * 1024

  /** Lloyd iterations with driver-held centroids (C×dim floats). Returns
    * the final centroids. Assignment/update are distributed; only the
    * centroid table moves through the driver — which is why C×dim is
    * guarded by [[MaxDriverFitCells]].
    */
  def fitCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      c: Int, iters: Int): Array[(Int, Array[Float])] = {
    val dimRow = corpus.select(size(col(vecCol))).head()
    val dim = dimRow.getInt(0)
    require(c.toLong * dim <= MaxDriverFitCells,
      s"C×dim = ${c.toLong * dim} exceeds the driver-mediated Lloyd " +
        s"ceiling $MaxDriverFitCells (each iteration collects C×dim " +
        "doubles of cell sums to the driver); distribute the centroid " +
        "update for this geometry")
    // deterministic init: first C vectors by id
    var centroids: Array[(Int, Array[Float])] = corpus
      .orderBy(col(idCol)).limit(c)
      .select(col(vecCol)).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Float](0).toArray) }
    var it = 0
    while (it < iters) {
      val assigned = assignCells(corpus, idCol, vecCol, centroids, 1)
      val sums = assigned
        .select(col("cell"), col(vecCol).as("v"))
        .groupBy(col("cell"))
        .agg(
          count(lit(1)).as("n"),
          array((0 until dim).map(d =>
            sum(element_at(col("v"), d + 1).cast("double"))): _*).as("vsum"))
        .collect()
      centroids = sums.map { r =>
        val n = r.getLong(1).toDouble
        val s = r.getSeq[Double](2)
        (r.getInt(0), s.map(x => (x / n).toFloat).toArray)
      }.sortBy(_._1)
      it += 1
    }
    centroids
  }

  /** Attach the `nProbe` nearest cell ids (by cosine to each centroid)
    * to every row — pure map via the native
    * [[graft.functions.NearestCells]] expression, whose centroid matrix
    * rides as ONE codegen reference object. The literal formulation
    * (array_sort over C `struct(-cosine(v, lit(c)), id)` entries) put
    * C×dim literal leaves into the plan per assignment site — and the
    * Lloyd fit builds a fresh site per iteration; at a production cell
    * count the plan tree itself becomes the bottleneck, the same class
    * LshBuckets removed from the LSH path. SimSpec pins bit-parity
    * against the literal twin.
    */
  private[graft] def assignCells(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Int, Array[Float])], nProbe: Int): DataFrame = {
    val probes = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.NearestCells(
        org.apache.spark.sql.graft.ColumnBridge.expression(col(vecCol)),
        centroids.map(_._1), centroids.map(_._2), nProbe))
    if (nProbe == 1)
      df.withColumn("cell", probes.getItem(0))
    else
      df.withColumn("cells", probes)
  }

  /** All-pairs k-nearest-neighbor GRAPH over the corpus, IVF-cell
    * blocked — the SemDeDup/diversity-filter building block where every
    * vector is simultaneously a query. Unlike [[IvfIndex.search]], NOTHING
    * broadcasts (both sides are the corpus): each vector probes its
    * `nProbe` nearest cells, the corpus is indexed at its single
    * nearest cell, and candidates ride one shuffle-hash EQUI-join on
    * `cell` — candidate volume ≈ n²·nProbe∕C instead of n², and a
    * skewed giant cell re-splits under AQE. The corpus side carries one
    * cell per vector, so a (query, neighbor) pair can match at most
    * once — no dedup pass. Exact cosine on candidates, per-query top-k
    * via the row_number window (compiles to WindowGroupLimit: each map
    * task forwards ≤ k candidates per query before the rank exchange).
    * Recall vs the exact graph ([[brute]] with queries = corpus) is
    * SimSpec-gated; rank quality degrades gracefully with nProbe like
    * IVF search.
    */
  def graphCells(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      centroids: Array[(Int, Array[Float])], nProbe: Int): DataFrame = {
    val scored = cellProbes(corpus, idCol, vecCol, centroids, nProbe)
      .join(IvfIndex.fitWith(corpus, idCol, vecCol, centroids).assigned, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", pairCos)
    pairTopK(scored, k)
  }

  /** (query_id, qv, qn, cell): each normalized query once per each of
    * its `nProbe` nearest cells — the probe side of IVF search and of
    * [[graphCells]].
    */
  private[sim] def cellProbes(queries: DataFrame, idCol: String,
      vecCol: String, centroids: Array[(Int, Array[Float])],
      nProbe: Int): DataFrame =
    assignCells(withNorm(queries, idCol, vecCol, "query_id", "qv", "qn"),
        "query_id", "qv", centroids, nProbe)
      .select(col("query_id"), col("qv"), col("qn"),
        explode(col("cells")).as("cell"))
}
