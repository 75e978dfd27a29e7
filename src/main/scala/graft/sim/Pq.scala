package graft.sim

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze, Schmid — "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011): split each vector into
  * `m` subvectors, k-means each subspace independently, store one byte
  * (code) per subspace — 64 float32 dims become `m` bytes, a 32×
  * memory cut that makes billion-vector ANN indexes fit in RAM. Search
  * reconstructs approximate distances from per-subspace lookup tables
  * (ADC); here we build the codebooks, encode, and account for exact
  * reconstruction error per subspace. Search runs through the index
  * handles, [[PqIndex]] (flat ADC) and [[IvfPqIndex]] (IVF-pruned).
  *
  * Scale shape mirrors IvfIndex: the DRIVER holds only the codebooks
  * (m·ks·subDim floats — KBs), shipped back each Lloyd round as a
  * broadcast literal table. The corpus-side work is one explode to
  * (vector, subspace) rows, a broadcast join against the codebook, and
  * a codegen'd distance argmin — no all-pairs anything, every round one
  * distributed pass. Deterministic throughout: init = first `ks`
  * vectors per subspace by id, ties in the argmin break on code id.
  */
object Pq {

  /** codebooks(sub)(code) = centroid subvector. */
  final case class Model(m: Int, subDim: Int,
      codebooks: Array[Array[Array[Float]]])

  /** (id, sub, svec) — corpus exploded into per-subspace rows. */
  private def subvectors(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int): DataFrame =
    corpus.select(col(idCol).as("pq_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col(vecCol).as("v"))
      .withColumn("svec", expr(s"slice(v, sub * $subDim + 1, $subDim)"))
      .drop("v")

  /** Assign each (id, sub) row its nearest code under the current
    * codebook: broadcast join + fused-loop distances, deterministic
    * struct-min argmin. ‖a−c‖² = ‖a‖² + ‖c‖² − 2a·c, all three terms
    * codegen'd natively.
    */
  private def assign(sub: DataFrame, books: DataFrame): DataFrame =
    sub.join(broadcast(books), "sub")
      .withColumn("dist",
        Vectors.normD(col("svec")) * Vectors.normD(col("svec")) +
          Vectors.normD(col("cvec")) * Vectors.normD(col("cvec")) -
          lit(2.0) * Vectors.dotD(col("svec"), col("cvec")))
      .groupBy(col("pq_id"), col("sub"))
      .agg(min(struct(col("dist"), col("code"))).as("best"))
      .select(col("pq_id"), col("sub"),
        col("best.code").as("code"), col("best.dist").as("dist"))

  private def booksDf(sub: DataFrame, model: Model): DataFrame = {
    val s = sub.sparkSession
    import s.implicits._
    model.codebooks.zipWithIndex.flatMap { case (codes, m) =>
      codes.zipWithIndex.map { case (c, k) => (m, k, c.toSeq) }
    }.toSeq.toDF("sub", "code", "cvec")
      .withColumn("cvec", col("cvec").cast("array<float>"))
  }

  /** Train codebooks with `iters` Lloyd rounds. */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ks: Int = 16, iters: Int = 3): Model = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val sub = subvectors(corpus, idCol, vecCol, m, subDim)
      .persist()
    try {
      // deterministic init: the first ks subvectors per subspace by id
      val wInit = Window.partitionBy(col("sub")).orderBy(col("pq_id"))
      val init = sub.withColumn("rn", row_number().over(wInit))
        .filter(col("rn") <= ks)
        .select(col("sub"), (col("rn") - 1).cast("int").as("code"),
          col("svec"))
        .collect()
      var model = Model(m, subDim, toBooks(init, m, ks, subDim))
      var it = 0
      while (it < iters) {
        // new centroid = mean of assigned subvectors, dim-wise; empty
        // cells keep their previous centroid (posexplode never emits
        // them, and toBooks backfills from the prior model)
        val means = assign(sub, booksDf(sub, model))
          .join(sub, Seq("pq_id", "sub"))
          .select(col("sub"), col("code"),
            posexplode(col("svec")).as(Seq("d", "x")))
          .groupBy(col("sub"), col("code"), col("d"))
          .agg(avg(col("x")).as("mx"))
          .groupBy(col("sub"), col("code"))
          .agg(array_sort(collect_list(struct(col("d"), col("mx"))))
            .as("pairs"))
          .select(col("sub"), col("code"),
            expr("transform(pairs, p -> cast(p.mx as float))").as("svec"))
          .collect()
        model = Model(m, subDim, toBooks(means, m, ks, subDim,
          prev = Some(model.codebooks)))
        it += 1
      }
      model
    } finally sub.unpersist()
  }

  private def toBooks(rows: Array[Row], m: Int, ks: Int, subDim: Int,
      prev: Option[Array[Array[Array[Float]]]] = None)
      : Array[Array[Array[Float]]] = {
    val books = prev.map(_.map(_.map(_.clone())))
      .getOrElse(Array.fill(m, ks, subDim)(0.0f))
    rows.foreach { r =>
      val s = r.getInt(0); val c = r.getInt(1)
      books(s)(c) = r.getSeq[Float](2).toArray
    }
    books
  }

  /** Per-subspace accounting: rows carry each vector's nearest-code
    * squared error; the caller aggregates. Columns: pq_id, sub, code,
    * dist.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      model: Model): DataFrame =
    assign(subvectors(corpus, idCol, vecCol, model.m, model.subDim),
      booksDf(corpus, model))

  /** Persist the KB-scale codebooks as one parquet table — same
    * train-once / encode-many lifecycle as IvfIndex.save: the nightly
    * pipeline fits, every downstream encode loads.
    */
  def save(spark: org.apache.spark.sql.SparkSession, model: Model,
      dir: String): Unit = {
    // reuse booksDf's flatten — ONE definition of the codebook row
    // layout keeps save/load and encode in lockstep
    val sub = spark.range(0).toDF() // session carrier only
    booksDf(sub, model)
      .withColumn("sub_dim", org.apache.spark.sql.functions.lit(model.subDim))
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  // ---- ADC search (the memory-bound ANN path) --------------------------

  private def bridge(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)
  private def asCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graft.ColumnBridge.column(e)

  /** Map-only native encoder: (neighbor_id, codes) in ONE scan — zero
    * exchanges, the plan holds the codebooks as a single reference
    * object. `encode` (explode → broadcast join → min-struct groupBy)
    * stays the distributed oracle; SimSpec pins code-for-code parity.
    */
  def codes(corpus: DataFrame, idCol: String, vecCol: String,
      model: Model): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"),
      asCol(graft.functions.PqCodes(bridge(col(vecCol)), model.codebooks))
        .as("codes"))

  /** (neighbor_id, codes, cell): PQ-encode AND coarse-quantize each
    * vector in the same map pass — the stored layout of IVFADC
    * ([[IvfPqIndex]]). Both expressions ride the scan as
    * reference objects; still no shuffle, no vector bytes retained.
    */
  def cellCodes(corpus: DataFrame, idCol: String, vecCol: String,
      model: Model, centroids: Array[(Int, Array[Float])]): DataFrame =
    Knn.assignCells(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("v")),
        "neighbor_id", "v", centroids, 1)
      .select(col("neighbor_id"),
        asCol(graft.functions.PqCodes(bridge(col("v")), model.codebooks))
          .as("codes"),
        col("cell"))

  /** Approximate top-k by asymmetric distance computation with exact
    * re-ranking — the ANN path you run when the corpus no longer fits
    * as floats: the scored table carries m code bytes per vector (32×
    * smaller than float32 at the default 8×16 geometry on 64 dims).
    * The one body behind [[PqIndex.search]] and [[IvfPqIndex.search]],
    * which differ only in `pairs`: how the query side (query_id, qv,
    * qn, qtab) meets the codes side (`codesDf` + rnorm).
    *
    * Plan shape (and why it scales):
    *  1. query side: ONE map pass attaches the m×ks inner-product
    *     table (KBs per query) and the exact query norm;
    *  2. ADC pass: broadcast queries × codes table, per pair m array
    *     loads — narrow (query_id, neighbor_id, adc) rows into a
    *     WindowGroupLimit top-(rerank·k) per query. No vector bytes in
    *     the scan, no vector bytes through the shuffle;
    *  3. re-rank: ONLY the rerank·k shortlisted ids join back to the
    *     float vectors in `corpus` (equi-join on neighbor_id) for exact
    *     cosine — so the returned `cos` is EXACT, never the ADC
    *     estimate (the "no fabricated cos" contract shared with the LSH
    *     path), and decoded vectors never meet a non-equi join. At
    *     scale the codes table is the thing that fits in memory; the
    *     vectors are cold storage read k·rerank rows at a time.
    *
    * Output: (query_id, rank, neighbor_id, cos) — the Knn contract.
    */
  private[sim] def adcSearch(model: Model, codesDf: DataFrame,
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, rerankFactor: Int)(
      pairs: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    val ks = model.codebooks.headOption.map(_.length).getOrElse(0)
    val qs = Knn.withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")
      .withColumn("qtab",
        asCol(graft.functions.PqIpTable(bridge(col("qv")), model.codebooks, ks)))
    val codesSide = codesDf.withColumn("rnorm",
      asCol(graft.functions.PqReconNorm(bridge(col("codes")), model.codebooks)))
    // cosineWithNorms, not a raw division: a zero-norm query or
    // reconstruction yields NULL (ranked last by pairTopK), never an
    // ANSI DIVIDE_BY_ZERO or a shortlist-polluting garbage score
    val adc = pairs(qs, codesSide)
      .select(col("query_id"), col("neighbor_id"),
        Vectors.cosineWithNorms(
          asCol(graft.functions.PqAdcSum(bridge(col("qtab")),
            bridge(col("codes")), ks)),
          col("qn"), col("rnorm")).as("cos"))
    val exact = Knn.pairTopK(adc, k * rerankFactor)
      .select(col("query_id"), col("neighbor_id"))
      .join(broadcast(qs.select(col("query_id"), col("qv"), col("qn"))),
        "query_id")
      .join(Knn.withNorm(corpus, idCol, vecCol, "neighbor_id", "nv", "nn"),
        "neighbor_id")
      .withColumn("cos", Knn.pairCos)
    Knn.pairTopK(exact, k)
  }

  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Model = {
    val rows = spark.read.parquet(dir)
      .select(col("sub"), col("code"), col("sub_dim"), col("cvec"))
      .collect()
    val m = rows.map(_.getInt(0)).max + 1
    val ks = rows.map(_.getInt(1)).max + 1
    val subDim = rows.head.getInt(2)
    val books = Array.fill(m, ks, subDim)(0.0f)
    rows.foreach { r =>
      books(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](3).toArray
    }
    Model(m, subDim, books)
  }
}
