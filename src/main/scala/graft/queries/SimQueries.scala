package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.sim.{IvfIndex, IvfPqIndex, Knn, LshIndex, Pq, PqIndex}
import graft.util.{FitOnce, Tables}

/** Similarity search (SURVEY.md §2.4) + multimodal plumbing (§2.6).
  * Queries = the first 10 vectors by id; corpus = all embeddings.
  */
object SimQueries {

  private val K = 10
  private val NQueries = 10

  private def split(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables(s, dir).embeddings
    (e.filter(col("vec_id") < NQueries), e)
  }

  private val IvfC = 16
  private val IvfIters = 3
  private val centroidFit = new FitOnce[Array[(Int, Array[Float])]]
  private val pqFit = new FitOnce[Pq.Model]
  private val pqSearchFit = new FitOnce[Pq.Model]

  /** IVF centroids of the corpus, fitted once ([[graft.util.FitOnce]])
    * and shared by every IVF-blocked face.
    */
  private[queries] def centroidsFor(s: SparkSession,
      dir: String): Array[(Int, Array[Float])] =
    centroidFit(s, dir, "embeddings")(Knn.fitCentroids(
      Tables(s, dir).embeddings, "vec_id", "embedding", IvfC, IvfIters))

  /** Search-grade geometry: 16 subspaces × 64 codes (96-bit codes,
    * 12 bytes — still a 21× cut vs 64 float32). emb_pq's 8×16 is the
    * reconstruction-accounting oracle geometry and ranks too coarsely
    * for a usable shortlist (measured recall@10 0.75 at sf0.1 even
    * with a 10·K re-rank); 16×64 measures 0.97/1.0 at sf0.1/sf0.01.
    */
  private def pqSearchModelFor(s: SparkSession, dir: String): Pq.Model =
    pqSearchFit(s, dir, "embeddings")(Pq.fit(Tables(s, dir).embeddings,
      "vec_id", "embedding", m = 16, ks = 64, iters = 2))

  def knnBrute(s: SparkSession, dir: String): DataFrame = {
    val (q, c) = split(s, dir)
    Knn.brute(q, c, "vec_id", "embedding", K)
      .orderBy(col("query_id"), col("rank"))
  }

  val knnBruteSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |p AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
       |            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) /
       |          (q.nrm * c.nrm), 6) AS cos
       |  FROM n q, n c
       |  WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id)
       |SELECT query_id, rank, neighbor_id, cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM p)
       |WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** Exact Hamming top-k over 1-bit sign codes ([[graft.functions.SignPack]]):
    * every embedding is quantized to ⌈dim/64⌉ longs once (map-side,
    * codegen'd), queries are broadcast against the code column, and the
    * distance is xor+popcount per pair — no multiplies, 32× less
    * memory traffic than the float scan. Unlike LSH/IVF/PQ the result
    * is DETERMINISTIC given the vectors (sign codes are a pure function
    * of the input), so this gets a full exact-hash oracle: DuckDB
    * replays the bit semantics as `(q[i] > 0) <> (c[i] > 0)` summed.
    * At 10⁹ vectors the packed corpus is ~8 GB — the shortlist pass a
    * binary-embedding retrieval stack runs before exact re-rank.
    */
  def knnHamming(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packed = Tables(s, dir).embeddings
      .select(col("vec_id"), graft.sim.Vectors.signPack(col("embedding")).as("code"))
    val q = broadcast(packed.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("code").as("qc")))
    val pairs = q.join(packed.select(col("vec_id").as("neighbor_id"),
        col("code").as("nc")), col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", graft.sim.Vectors.hamming(col("qc"), col("nc")))
    pairs
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("hamming"), col("neighbor_id"))))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"))
      .orderBy(col("query_id"), col("rank"))
  }

  val knnHammingSql: String =
    s"""WITH p AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(range(1, len(q.embedding) + 1),
       |      i -> CASE WHEN (q.embedding[i] > 0) <> (c.embedding[i] > 0)
       |           THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
       |  FROM embeddings q, embeddings c
       |  WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id)
       |SELECT query_id, rank, neighbor_id, hamming FROM (
       |  SELECT query_id, neighbor_id, hamming,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY hamming, neighbor_id) AS rank
       |  FROM p)
       |WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** The complete binary-retrieval pipeline: knn_hamming's 1-bit code
    * scan produces a 10·K shortlist (cheap — xor+popcount over the
    * packed corpus), then ONLY those candidates are re-scored with the
    * exact float cosine. This is the production two-stage shape (scan
    * 32×-compressed codes, touch the float store for 100 rows per
    * query) and — unlike the LSH/IVF/PQ stages — every step is a pure
    * function of the vectors, so the WHOLE pipeline gets an exact hash
    * oracle: DuckDB replays shortlist and re-rank bit for bit.
    */
  def knnHammingRerank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(s, dir).embeddings
    val packed = e.select(col("vec_id"),
      graft.sim.Vectors.signPack(col("embedding")).as("code"),
      col("embedding"), graft.sim.Vectors.normD(col("embedding")).as("nrm"))
    val q = broadcast(packed.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("code").as("qc"),
        col("embedding").as("qv"), col("nrm").as("qn")))
    val shortlist = q.join(packed.select(col("vec_id").as("neighbor_id"),
        col("code").as("nc"), col("embedding").as("nv"), col("nrm").as("nn")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", graft.sim.Vectors.hamming(col("qc"), col("nc")))
      .withColumn("hrank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("hamming"), col("neighbor_id"))))
      .filter(col("hrank") <= 10 * K)
    shortlist
      .withColumn("cos", round(graft.sim.Vectors.cosineWithNorms(
        graft.sim.Vectors.dotD(col("qv"), col("nv")), col("qn"), col("nn")), 6))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  val knnHammingRerankSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |h AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    q.embedding AS qe, c.embedding AS ce, q.nrm AS qn, c.nrm AS nn,
       |    CAST(list_sum(list_transform(range(1, len(q.embedding) + 1),
       |      i -> CASE WHEN (q.embedding[i] > 0) <> (c.embedding[i] > 0)
       |           THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
       |  FROM n q, n c
       |  WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id),
       |sl AS (
       |  SELECT * FROM (
       |    SELECT h.*, row_number() OVER (PARTITION BY query_id
       |      ORDER BY hamming, neighbor_id) AS hrank
       |    FROM h)
       |  WHERE hrank <= ${10 * K}),
       |rr AS (
       |  SELECT query_id, neighbor_id,
       |    round(list_sum(list_transform(range(1, len(qe) + 1),
       |            i -> qe[i]::DOUBLE * ce[i]::DOUBLE)) / (qn * nn), 6) AS cos
       |  FROM sl)
       |SELECT query_id, rank, neighbor_id, cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM rr)
       |WHERE rank <= $K
       |ORDER BY query_id, rank""".stripMargin

  /** Ranking-quality evaluation: NDCG@k of the exact kNN ranking with
    * label-match as graded relevance — the "are these neighbors USEFUL"
    * metric beside knn_classify's accuracy (NDCG rewards putting the
    * same-label neighbors early, not just retrieving them). Float
    * parity is engineered the usual way: the per-rank discount
    * 1∕log2(r+1) is quantized to integer MICRO-units, so DCG and the
    * ideal DCG are exact integer sums and only the final ratio is a
    * float (identical operand bits both engines, rounded to 6).
    */
  def qNdcg(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    val labels = e.select(col("vec_id"), col("label"))
    val g = Knn.brute(e.filter(col("vec_id") < NQueries), e,
      "vec_id", "embedding", K)
    val w = floor(lit(1000000.0) / log2(col("rank") + 1) + lit(0.5))
    val scored = g
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), "neighbor_id")
      .join(broadcast(labels.select(col("vec_id").as("query_id"),
        col("label").as("q_label"))), "query_id")
      .select(col("query_id"),
        when(col("n_label") === col("q_label"), 1L).otherwise(0L).as("rel"),
        w.as("w"))
    scored.groupBy(col("query_id"))
      .agg(sum(col("rel")).as("n_rel"),
        sum(col("rel") * col("w")).as("dcg_micro"))
      .withColumn("idcg_micro", when(col("n_rel") === 0, 0L)
        .otherwise(aggregate(sequence(lit(1), col("n_rel").cast("int")),
          lit(0L), (acc, r) =>
            acc + floor(lit(1000000.0) / log2(r + 1) + lit(0.5)))))
      .select(col("query_id"), col("n_rel"), col("dcg_micro"),
        col("idcg_micro"),
        when(col("idcg_micro") > 0,
          round(col("dcg_micro").cast("double") /
            col("idcg_micro").cast("double"), 6)).otherwise(0.0).as("ndcg"))
      .orderBy(col("query_id"))
  }

  val qNdcgSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |g AS (
       |  SELECT query_id, rank, n_label, q_label FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      c.label AS n_label, q.label AS q_label,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, len(q.embedding) + 1),
       |                i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) /
       |              (q.nrm * c.nrm), 6) DESC, c.vec_id) AS rank
       |    FROM n q, n c
       |    WHERE q.vec_id < $NQueries AND c.vec_id <> q.vec_id)
       |  WHERE rank <= $K),
       |agg AS (
       |  SELECT query_id,
       |    CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_rel,
       |    CAST(sum((CASE WHEN n_label = q_label THEN 1 ELSE 0 END) *
       |      floor(1000000.0 / log2(rank + 1) + 0.5)::BIGINT) AS BIGINT)
       |      AS dcg_micro
       |  FROM g GROUP BY query_id)
       |SELECT query_id, n_rel, dcg_micro, idcg_micro,
       |  CASE WHEN idcg_micro > 0
       |       THEN round(dcg_micro::DOUBLE / idcg_micro::DOUBLE, 6)
       |       ELSE 0.0 END AS ndcg
       |FROM (
       |  SELECT agg.*,
       |    coalesce(CAST(list_sum(list_transform(range(1, n_rel + 1),
       |      r -> floor(1000000.0 / log2(r + 1) + 0.5)::BIGINT)) AS BIGINT), 0)
       |      AS idcg_micro
       |  FROM agg)
       |ORDER BY query_id""".stripMargin

  /** Hard-negative mining — the contrastive-training data op: for each
    * query, the top-k most similar vectors whose LABEL DIFFERS (the
    * high-cos wrong-class examples a dual-encoder trains against;
    * random negatives are too easy). Same broadcast-queries pair scan
    * as knn_brute with the label inequality pushed into the join
    * condition, so disqualified pairs never reach scoring; at corpus
    * scale the same cell-blocking as knn_graph_cell applies unchanged
    * (the filter composes with any candidate generator).
    */
  def knnHardNegatives(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(s, dir).embeddings
    val qs = broadcast(e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("qv"),
        graft.sim.Vectors.normD(col("embedding")).as("qn")))
    val cs = e.select(col("vec_id").as("neighbor_id"),
      col("label").as("n_label"), col("embedding").as("nv"),
      graft.sim.Vectors.normD(col("embedding")).as("nn"))
    qs.join(cs, col("q_label") =!= col("n_label"))
      .withColumn("cos", round(graft.sim.Vectors.cosineWithNorms(
        graft.sim.Vectors.dotD(col("qv"), col("nv")),
        col("qn"), col("nn")), 6))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("n_label"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  val knnHardNegativesSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |p AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    c.label AS n_label,
       |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
       |            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) /
       |          (q.nrm * c.nrm), 6) AS cos
       |  FROM n q, n c
       |  WHERE q.vec_id < $NQueries AND q.label <> c.label)
       |SELECT query_id, rank, neighbor_id, n_label, cos FROM (
       |  SELECT query_id, neighbor_id, n_label, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM p)
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** Approximate: rows-only oracle; recall vs brute is spec-asserted. */
  def knnLsh(s: SparkSession, dir: String): DataFrame = {
    val (q, c) = split(s, dir)
    LshIndex.build(c, "vec_id", "embedding", dim = 64)
      .search(q, "vec_id", "embedding", K)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Approximate: rows-only oracle; recall vs brute is spec-asserted. */
  def knnIvf(s: SparkSession, dir: String): DataFrame = {
    val (q, c) = split(s, dir)
    IvfIndex.fitWith(c, "vec_id", "embedding", centroidsFor(s, dir))
      .search(q, "vec_id", "embedding", K)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Approximate: ADC over 12-byte PQ codes (16×64 geometry) with
    * exact re-rank of a 10·K shortlist (graft.sim.PqIndex — the
    * memory-bound ANN path). The shortlist is deeper than the LSH/IVF
    * probe sets (ADC ranks from quantized vectors) but fixed per
    * query: 100 rows re-ranked regardless of corpus size — 5% of the
    * corpus at sf0.1, 0.0001% at 10⁸ vectors. Rows-only oracle;
    * recall vs brute is spec-asserted, and the returned cos is exact
    * by construction (re-rank scores the real vectors).
    */
  def knnPq(s: SparkSession, dir: String): DataFrame = {
    val (q, c) = split(s, dir)
    val model = pqSearchModelFor(s, dir)
    PqIndex(model, Pq.codes(c, "vec_id", "embedding", model))
      .search(q, c, "vec_id", "embedding", K, rerankFactor = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Approximate: IVFADC — knn_pq's ADC scoring pruned by knn_ivf's
    * coarse quantizer (Jégou §V, graft.sim.IvfPqIndex).
    * Per query the ADC pass touches ~nProbe/C of the code rows via a
    * broadcast equi-join on `cell` instead of flat-scanning them all —
    * the composition that carries PQ search to corpus scale (and, via
    * IvfPqIndex's cell-partitioned persistence, to partition-pruned
    * scans). Same memoized centroids as knn_ivf, same 16×64 search
    * geometry as knn_pq; probes deepened to half the cells because the
    * coarse quantizer must now catch what the flat scan saw anyway —
    * recall floor and no-cartesian plan shape are spec-asserted.
    */
  def knnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val (q, c) = split(s, dir)
    IvfPqIndex.fitWith(c, "vec_id", "embedding", centroidsFor(s, dir),
        pqSearchModelFor(s, dir))
      .search(q, c, "vec_id", "embedding", K, nProbe = 8, rerankFactor = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  private val GraphK = 5

  /** The exact all-pairs kNN graph (every corpus vector is a query,
    * k = 5) — the building block under SemDeDup-style semantic dedup,
    * diversity filtering, and graph clustering. This is the quadratic
    * VALIDATOR (n² pairs by construction, full SQL oracle); the
    * cell-blocked twin below is the scale shape.
    */
  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    Knn.brute(e, e, "vec_id", "embedding", GraphK)
      .orderBy(col("query_id"), col("rank"))
  }

  val knnGraphSql: String =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |p AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
       |            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) /
       |          (q.nrm * c.nrm), 6) AS cos
       |  FROM n q, n c
       |  WHERE c.vec_id <> q.vec_id)
       |SELECT query_id, rank, neighbor_id, cos FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM p)
       |WHERE rank <= $GraphK
       |ORDER BY query_id, rank""".stripMargin

  /** The scale path for the kNN graph (graft.sim.Knn.graphCells):
    * candidates from one cell-keyed equi-join — n²·nProbe∕C pairs, no
    * broadcast of either side, AQE re-splits skewed cells. Probe depth
    * is honest about the regime, like dedup_embedding_cell: graph
    * targets are top-5 REGARDLESS of cosine, and a vector's 5th
    * neighbor routinely sits across a cluster boundary — nProbe = 4
    * measured only 0.59 recall@5 on this corpus, so the registered
    * query probes 8 of C = 16 (recall ≥ 0.7 spec floor). What scales
    * is the SHAPE: candidates ride an equi-join and C grows with the
    * corpus while nProbe tracks the recall target, not n. Rows-only
    * (approximate); SimSpec gates per-vector top-5 recall vs the exact
    * graph and PlanSpec pins the no-cartesian shape.
    */
  def knnGraphCell(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    Knn.graphCells(e, "vec_id", "embedding", GraphK,
        centroidsFor(s, dir), nProbe = 8)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Numeric quality gate for the approximate ANN paths: recall@K of
    * LSH, IVF, PQ, and IVFADC against the exact brute-force top-k,
    * macro-averaged over queries, computed entirely in Spark (one plan:
    * union the method outputs, left-join the exact set, two aggregations).
    * Rows-only for the driver (the approx methods have no SQL twin),
    * but a recall regression now shows as a VALUE change instead of
    * being invisible behind `no_oracle`; the spec asserts the floors.
    */
  def knnRecall(s: SparkSession, dir: String): DataFrame = {
    // three pipelines, one materialization: brute, LSH, and IVF each
    // embed their own scan subtree, so without sharing the evaluator
    // reads the parquet ~6×. The share rides a lazy localCheckpoint,
    // NOT Dataset.persist: blocks materialize at the first action, are
    // shared by every subtree referencing the RDD, and are reclaimed by
    // the ContextCleaner once the result is dropped — a CacheManager
    // entry would pin them for the session lifetime (the r4 leak). A
    // recall evaluator runs on a bounded SAMPLE at corpus scale, so the
    // pinned-while-referenced sample is bounded too. The IVF centroids
    // come from the per-dir fit cache (identical values; the fit's
    // corpus scans are the price knn_recall was over-paying per call).
    val c = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      .localCheckpoint(false)
    val q = c.filter(col("vec_id") < NQueries)
    val exact = Knn.brute(q, c, "vec_id", "embedding", K)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    val centroids = centroidsFor(s, dir)
    val model = pqSearchModelFor(s, dir)
    val methods = Seq(
      "lsh" -> LshIndex.build(c, "vec_id", "embedding", dim = 64)
        .search(q, "vec_id", "embedding", K),
      "ivf" -> IvfIndex.fitWith(c, "vec_id", "embedding", centroids)
        .search(q, "vec_id", "embedding", K),
      "pq" -> PqIndex(model, Pq.codes(c, "vec_id", "embedding", model))
        .search(q, c, "vec_id", "embedding", K, rerankFactor = 10),
      "ivfpq" -> IvfPqIndex.fitWith(c, "vec_id", "embedding", centroids, model)
        .search(q, c, "vec_id", "embedding", K, nProbe = 8, rerankFactor = 10))
      .map { case (method, found) =>
        found.select(lit(method).as("method"), col("query_id"),
          col("neighbor_id"))
      }
      .reduce(_ unionByName _)
    methods
      .join(exact, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("method"), col("query_id"))
      .agg((sum(coalesce(col("hit"), lit(0))) / lit(K)).as("recall_q"))
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("recall_q")), 4).as("recall"))
      .orderBy(col("method"))
  }

  /** Product quantization accounting (graft.sim.Pq): train 8x16
    * codebooks on the embedding corpus (2 Lloyd rounds, deterministic
    * init), encode every vector to 8 bytes, report per-subspace code
    * usage and mean squared reconstruction error. Rows-only: k-means is
    * not SQL-expressible; SimSpec gates the invariants (codes bounded,
    * training monotonically improves on the init codebook).
    */
  def embPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir).embeddings
    val model = pqFit(s, dir, "embeddings")(
      Pq.fit(emb, "vec_id", "embedding", m = 8, ks = 16, iters = 2))
    Pq.encode(emb, "vec_id", "embedding", model)
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("code")).as("n_codes"),
        round(avg(col("dist")), 4).as("mse"))
      .orderBy(col("sub"))
  }

  /** Multimodal: per-format stats over the batch-decoded features.
    * Every fixture format decodes for REAL (png/jpeg via ImageIO, wav
    * via javax.sound, gif via the multi-frame ImageReader, avi via the
    * RIFF walk + per-frame MJPEG decode — r12 closed the last byte
    * fallback; the fallback branch itself serves corrupt media and is
    * spec-pinned with a corrupt blob). Rows-only for the driver — a
    * payload's byte length is the JDK encoder's business, not SQL's —
    * but SimSpec holds every format's checksums to INDEPENDENT
    * pattern-arithmetic oracles (exact for the lossless codecs, the
    * measured quality-1.0 band for jpeg/avi).
    */
  def mmMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFeatures(Multimodal.mediaTable(Tables(s, dir).documents))
      .groupBy(col("format"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("decoded").cast("long")).as("n_decoded"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("checksum")).as("sum_checksum"),
        sum(col("thumb_w").cast("long")).as("sum_thumb_w"),
        sum(col("thumb_h").cast("long")).as("sum_thumb_h"))
      .orderBy(col("format"))

  /** Frame-level audio analysis over the REAL decoded wav rows: 20 ms
    * frame energies, clip zero crossings, quantized RMS — the VAD /
    * segmentation preprocessing pass of a speech pipeline, map-only at
    * any scale. Rows-only by declaration (codec-backed), but
    * SPEC-EXACT: the synthesized sample pattern is public arithmetic
    * (WavCodec.sample), so the spec replays every clip's features
    * independently of the codec and asserts equality — the decode
    * proves it recovered every sample, not just a checksum.
    */
  def mmAudio(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFeatures(
        Multimodal.mediaTable(Tables(s, dir).documents, Seq("wav")))
      .toDF()
      .orderBy(col("media_id"))

  /** Voice-activity segmentation per wav clip
    * (Multimodal.audioSegments) — rows-only like mm_audio (no audio
    * decode in DuckDB) but spec-EXACT: the synthesized sample pattern
    * is public arithmetic, so SimSpec replays every clip's segment
    * walk independently of the codec.
    */
  def mmVad(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioSegments(
        Multimodal.mediaTable(Tables(s, dir).documents, Seq("wav")))
      .toDF()
      .orderBy(col("media_id"))

  /** Frame sampling over the first 20 payloads: gif AND avi rows emit
    * REAL decoded frames (container frame count, per-frame pixel
    * stats — avi through the RIFF/MJPEG walk since r12); image/audio
    * rows keep the 4 byte-window "frames" (size + checksum per
    * window, the partition invariant spec-asserted). Rows-only; the
    * per-frame sums pin against the pattern oracles in SimSpec.
    */
  def mmFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
        Multimodal.mediaTable(Tables(s, dir).documents.filter(col("doc_id") < 20)))
      .toDF()
      .orderBy(col("media_id"), col("frame_id"))

  /** Per-label centroids as (label, dim, value) — the distributed
    * feature-aggregation shape: posexplode the vector, one partial-
    * aggregatable avg keyed by (label, dim). At corpus scale this is
    * the standard "class centroid" building block (and the batch half
    * of IVF training).
    */
  def embCentroids(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), round(avg(col("x").cast("double")), 6).as("centroid"))
      .orderBy(col("label"), col("dim"))

  val embCentroidsSql: String =
    """SELECT label, i - 1 AS dim, count(*) AS n,
      |  round(avg(embedding[i]::DOUBLE), 6) AS centroid
      |FROM embeddings, range(1, 65) t(i)
      |GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin

  private val pcaFit = new FitOnce[graft.sim.Pca.Model]

  /** The corpus's top-4 PCA basis, shared by emb_pca and emb_whiten. */
  private def pcaModel(s: SparkSession, dir: String): graft.sim.Pca.Model =
    pcaFit(s, dir, "embeddings")(graft.sim.Pca.fit(
      Tables(s, dir).embeddings, "embedding", dim = 64, k = 4))

  /** The corpus mapped through `map` under [[pcaModel]], one 1e-6
    * quantized `<prefix>j_x6` column per component.
    */
  private def pcaExport(s: SparkSession, dir: String, prefix: String)(
      map: (Column, graft.sim.Pca.Model) => Column): DataFrame = {
    val pcs = (0 until 4).map(j =>
      floor(element_at(col("y"), j + 1) * 1e6 + lit(0.5)).cast("long")
        .as(s"$prefix${j + 1}_x6"))
    Tables(s, dir).embeddings
      .select(col("vec_id"), map(col("embedding"), pcaModel(s, dir)).as("y"))
      .select(col("vec_id") +: pcs: _*)
      .orderBy(col("vec_id"))
  }

  /** PCA projection of the embedding corpus onto its top 4 principal
    * components ([[graft.sim.Pca]]): one Gramian pass + driver Jacobi,
    * then a native map-side projection. Output quantized to 1e-6
    * integer units (the covariance is rounded before the eigensolve,
    * so components are partitioning-invariant). Rows-only — an
    * iterative eigendecomposition has no SQL twin; SimSpec pins
    * orthonormality, eigenvalue order, variance capture and a planted
    * dominant direction.
    */
  def embPca(s: SparkSession, dir: String): DataFrame =
    pcaExport(s, dir, "pc")(graft.sim.Pca.project(_, _))

  /** PCA-whitened embedding export (Pca.whiten — FAISS PCAMatrix at
    * eigen_power −0.5): the same top-4 basis as emb_pca with each
    * component scaled to unit variance, the normalization run before
    * ANN indexing / semantic dedup so retained directions weigh
    * equally. Identical plan shape to emb_pca — ONE map-side native
    * projection, the scaling folded into the basis (zero extra
    * passes). Rows-only like emb_pca (driver eigensolve has no SQL
    * twin); SimSpec pins unit variance + zero cross-covariance of the
    * whitened corpus and the per-row ∕√λ parity with emb_pca.
    */
  def embWhiten(s: SparkSession, dir: String): DataFrame =
    pcaExport(s, dir, "wc")(graft.sim.Pca.whiten(_, _))

  /** Cluster-balanced diversity sampling (graft.sim.DiverseSample,
    * Sorscher et al. arXiv:2206.14486): keep the 16 vectors per IVF
    * cell farthest from their centroid — prune the prototypical mass,
    * keep the informative tail, with per-cell quotas so no dominant
    * cluster monopolizes the sample. Same memoized centroids as the
    * other IVF paths; the quota compiles to WindowGroupLimit on the
    * cell exchange. Rows-only (centroid fit has no SQL twin); SimSpec
    * pins quota honoring, the farthest-first rule vs the full
    * assignment, and rerun determinism.
    */
  def sampleDiverse(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    graft.sim.DiverseSample.farthestPerCell(
        e, "vec_id", "embedding", centroidsFor(s, dir), perCell = 16)
      .orderBy(col("cell"), col("rank"))
  }

  /** Embedding-quality eval by kNN label voting: predict each vector's
    * label from its 5 nearest neighbors (majority, ties → min label)
    * and report the confusion matrix — the standard "are these
    * embeddings any good" probe a curation pipeline runs before
    * trusting them for semantic dedup or clustering. Rides the same
    * exact graph as knn_graph (the approximate variants' quality is
    * separately gated by knn_recall); votes and the argmax are one
    * groupBy + one WindowGroupLimit rank; the output is the
    * |labels|²-bounded confusion matrix, totally ordered.
    */
  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    voteConfusion(Knn.brute(e, e, "vec_id", "embedding", GraphK),
      e.select(col("vec_id"), col("label")))
  }

  /** The SCALE twin of knn_classify — same vote + confusion matrix,
    * but over the cell-blocked approximate graph ([[Knn.graphCells]],
    * the knn_graph/knn_graph_cell precedent): candidates ride ONE
    * equi-join on cell (n²·nProbe∕C pairs, no cartesian, no broadcast
    * of the corpus), so the eval still runs where the exact n² matrix
    * can't be built at all. Rows-only (approximate neighbor sets);
    * SimSpec gates the diagonal (per-class accuracy) against the exact
    * confusion matrix and PlanSpec pins the no-cartesian shape.
    */
  def knnClassifyCell(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    voteConfusion(
      Knn.graphCells(e, "vec_id", "embedding", GraphK,
        centroidsFor(s, dir), nProbe = 8),
      e.select(col("vec_id"), col("label")))
  }

  /** Majority vote (ties → min label) over a (query_id, neighbor_id)
    * graph, then the confusion matrix against the true labels. Votes
    * and the argmax are one groupBy + one WindowGroupLimit rank; the
    * output is the |labels|²-bounded confusion matrix, totally ordered.
    */
  private def voteConfusion(graph: DataFrame, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val votes = graph
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), "neighbor_id")
      .groupBy(col("query_id"), col("n_label"))
      .agg(count(lit(1)).as("v"))
    val pred = votes
      .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("v").desc, col("n_label"))))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("n_label").as("pred_label"))
    pred
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("true_label")), "query_id")
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  val knnClassifySql: String =
    s"""WITH n AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |p AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS n_label,
       |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
       |            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) /
       |          (q.nrm * c.nrm), 6) AS cos
       |  FROM n q, n c
       |  WHERE c.vec_id <> q.vec_id),
       |g AS (
       |  SELECT query_id, n_label FROM (
       |    SELECT query_id, n_label, cos, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM p)
       |  WHERE rank <= $GraphK),
       |votes AS (
       |  SELECT query_id, n_label, count(*) AS v
       |  FROM g GROUP BY query_id, n_label),
       |pred AS (
       |  SELECT query_id, n_label AS pred_label FROM (
       |    SELECT query_id, n_label,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY v DESC, n_label) AS rn
       |    FROM votes)
       |  WHERE rn = 1)
       |SELECT t.label AS true_label, p.pred_label, count(*) AS n
       |FROM pred p JOIN n t ON t.vec_id = p.query_id
       |GROUP BY true_label, pred_label
       |ORDER BY true_label, pred_label""".stripMargin

  /** Perceptual-hash image dedup over REAL decoded pixels: the corpus
    * is synthetic and near-dup-free, so the query PLANTS deterministic
    * near-duplicate images (the text_pii_scrub injection precedent):
    * docs 0..255 in groups of 4 render the same textured base image
    * ([[graft.multimodal.PngCodec.texturePixel]], per-id spatial
    * frequencies) uniformly brightened by 3·variant — a shift that
    * lives in the DC coefficient only, which is exactly what pHash is
    * built to ignore. Every payload round-trips through a real PNG
    * encode + ImageIO decode before hashing (the codec path is the
    * point), then pairs ride the SimHash 4-block pigeonhole equi-join.
    * Rows-only (JDK codec output has no SQL twin); SimSpec pins
    * completeness (all 6·64 within-group pairs, Hamming ≤ 3) and zero
    * cross-group false positives. The PAIR stage itself — the exact
    * operator this query calls after decode — carries a full DuckDB
    * oracle as [[graft.queries.DedupQueries.dedupCodePairs]]
    * (pairs-given-codes vs the quadratic semantic ground truth).
    */
  def mmPhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hashes = Tables(s, dir).documents
      .filter(col("doc_id") < 256).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val base = id / 4
        val w = 24 + (base % 16).toInt
        val h = 24 + ((base * 7) % 16).toInt
        val png = graft.multimodal.PngCodec.synthesizeTextured(
          base, w, h, bright = 3 * (id % 4).toInt)
        val ph = graft.multimodal.PHash.ofBytes(png)
          .getOrElse(sys.error(s"payload for doc $id failed to decode"))
        (id, ph)
      })
      .toDF("doc_id", "sim")
    graft.dedup.SimHash.pairsOf(hashes, maxDist = 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Within-class embedding outlier detection — the mislabeled-vector
    * curation pass (DataComp/LAION-style cleaning): each vector is
    * scored by cosine to its OWN label's mean vector, then z-scored
    * against its label's cosine distribution; z < −2 flags the vector
    * as a likely label error or garbage embedding. Fully DuckDB-oracled
    * because every cross-row sum is pre-quantized to integers (the
    * q_corr trick): per-(label, dim) means accumulate 1e-6-quantized
    * components, per-label μ∕σ accumulate 1e-6-quantized cosines — so
    * partial-aggregation order can never drift a bit. The per-vector
    * dot/norm sums ride the posexplode → partial-agg shape (embQuantize
    * precedent): dims of one vector stay inside their map task, no
    * exchange before the partial. Two broadcast joins carry the
    * KB-scale mean and stat tables; everything corpus-scale is one
    * explode + two aggregations.
    */
  def embOutliers(s: SparkSession, dir: String): DataFrame = {
    // Exactness: the cosine to the label MEAN equals the cosine to the
    // label SUM vector (the 1/(n*1e6) scale cancels), so every
    // cross-row sum is INTEGER -- per-(label,dim) component sums,
    // per-vector X*SQ dot products, per-label sum(SQ^2) norms --
    // escrowed in DECIMAL(38,0) where BIGINT would wrap (X*SQ reaches
    // ~1e21 at 1e9 rows/label; qc^2 sums wrap past ~9e6 rows). No
    // float ever crosses rows, so aggregation order cannot drift a
    // bit in either engine.
    val dec = "decimal(38,0)"
    val ex = Tables(s, dir).embeddings
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("q", floor(col("x").cast("double") * 1e6 + 0.5)
        .cast("long"))
    val means = ex.groupBy(col("label").as("m_label"), col("dim").as("m_dim"))
      .agg(sum(col("q")).as("sqm"))
    val labelNorm = means.groupBy(col("m_label").as("n_label"))
      .agg(sum(col("sqm").cast(dec) * col("sqm")).as("nm2q"))
    val scored = ex.join(broadcast(means),
        col("label") === col("m_label") && col("dim") === col("m_dim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("q").cast(dec) * col("sqm")).as("dotq"),
        sum(col("q").cast(dec) * col("q")).as("nv2q"))
      .join(broadcast(labelNorm), col("label") === col("n_label"))
      .withColumn("cos",
        when(col("nv2q") > 0 && col("nm2q") > 0,
          round(col("dotq").cast("double") /
            (sqrt(col("nv2q").cast("double")) *
              sqrt(col("nm2q").cast("double"))), 6)))
      .withColumn("qc", floor(col("cos") * 1e6 + 0.5).cast("long"))
    val stats = scored.groupBy(col("label").as("s_label"))
      .agg(count(col("qc")).as("sn"), sum(col("qc")).as("s1"),
        sum(col("qc").cast(dec) * col("qc")).as("s2"))
      .select(col("s_label"),
        (col("s1").cast("double") / col("sn") / 1e6).as("mu"),
        (sqrt(col("s2").cast("double") / col("sn") -
          (col("s1").cast("double") / col("sn")) *
          (col("s1").cast("double") / col("sn"))) / 1e6).as("sigma"))
    scored.join(broadcast(stats), col("label") === col("s_label"))
      .withColumn("z",
        when(col("sigma") > 0,
          round((col("cos") - col("mu")) / col("sigma"), 4)))
      .select(col("vec_id"), col("label"), col("cos"), col("z"),
        (col("z") < -2.0).as("is_outlier"))
      .orderBy(col("vec_id"))
  }

  val embOutliersSql: String =
    """WITH ex0 AS (
      |  SELECT vec_id, label, embedding AS e,
      |    unnest(range(len(embedding))) AS dim
      |  FROM embeddings),
      |ex AS (
      |  SELECT vec_id, label, dim,
      |    floor(e[dim + 1]::DOUBLE * 1e6 + 0.5)::BIGINT AS q
      |  FROM ex0),
      |m AS (
      |  SELECT label, dim, sum(q)::BIGINT AS sqm
      |  FROM ex GROUP BY label, dim),
      |ln AS (
      |  SELECT label, sum(sqm::HUGEINT * sqm) AS nm2q
      |  FROM m GROUP BY label),
      |sc AS (
      |  SELECT ex.vec_id, ex.label,
      |    CASE WHEN sum(ex.q::HUGEINT * ex.q) > 0 AND max(ln.nm2q) > 0
      |      THEN round(sum(ex.q::HUGEINT * m.sqm)::DOUBLE /
      |        (sqrt(sum(ex.q::HUGEINT * ex.q)::DOUBLE) *
      |         sqrt(max(ln.nm2q)::DOUBLE)), 6)
      |    END AS cos
      |  FROM ex JOIN m ON ex.label = m.label AND ex.dim = m.dim
      |       JOIN ln ON ex.label = ln.label
      |  GROUP BY ex.vec_id, ex.label),
      |qs AS (
      |  SELECT vec_id, label, cos,
      |    floor(cos * 1e6 + 0.5)::BIGINT AS qc
      |  FROM sc),
      |st AS (
      |  SELECT label, count(qc) AS sn,
      |    sum(qc)::DOUBLE AS s1, sum(qc::HUGEINT * qc)::DOUBLE AS s2
      |  FROM qs GROUP BY label),
      |st2 AS (
      |  SELECT label, s1 / sn / 1e6 AS mu,
      |    sqrt(s2 / sn - (s1 / sn) * (s1 / sn)) / 1e6 AS sigma
      |  FROM st)
      |SELECT q.vec_id, q.label, q.cos,
      |  CASE WHEN st2.sigma > 0
      |       THEN round((q.cos - st2.mu) / st2.sigma, 4) END AS z,
      |  CASE WHEN st2.sigma > 0
      |       THEN round((q.cos - st2.mu) / st2.sigma, 4) END < -2.0
      |    AS is_outlier
      |FROM qs q JOIN st2 ON q.label = st2.label
      |ORDER BY q.vec_id""".stripMargin

  /** Per-dimension embedding-space audit — the "is this embedding
    * model collapsed?" profiler: mean, variance, and zero fraction per
    * dimension (dead dims show zero_frac → 1 and var → 0; a collapsed
    * model shows variance concentrated in a few dims — the check run
    * before trusting any ANN geometry). Same exactness engineering as
    * emb_outliers: components quantize to 1e-6 integers, the square
    * sums escrow in DECIMAL(38,0) (q² ≤ 10¹² per row — BIGINT
    * saturates near 10⁷ rows), so the one posexplode aggregation is
    * bit-reproducible and fully SQL-oracled.
    */
  def embDimStats(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir).embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("q", floor(col("x").cast("double") * 1e6 + 0.5)
        .cast("long"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("s1"),
        sum(col("q").cast("decimal(38,0)") * col("q")).as("s2"),
        sum(when(col("q") === 0L, 1L).otherwise(0L)).as("n_zero"))
      .select(col("dim").cast("long").as("dim"), col("n"),
        round(col("s1").cast("double") / col("n") / 1e6, 6).as("mean"),
        round((col("s2").cast("double") / col("n") -
          (col("s1").cast("double") / col("n")) *
          (col("s1").cast("double") / col("n"))) / 1e12, 6).as("variance"),
        round(col("n_zero").cast("double") / col("n"), 4).as("zero_frac"))
      .orderBy(col("dim"))
  }

  val embDimStatsSql: String =
    """WITH ex0 AS (
      |  SELECT embedding AS e, unnest(range(len(embedding))) AS dim
      |  FROM embeddings),
      |ex AS (
      |  SELECT dim, floor(e[dim + 1]::DOUBLE * 1e6 + 0.5)::BIGINT AS q
      |  FROM ex0)
      |SELECT dim::BIGINT AS dim, count(*) AS n,
      |  round(sum(q)::DOUBLE / count(*) / 1e6, 6) AS mean,
      |  round((sum(q * q)::DOUBLE / count(*) -
      |    (sum(q)::DOUBLE / count(*)) * (sum(q)::DOUBLE / count(*)))
      |    / 1e12, 6) AS variance,
      |  round(sum(CASE WHEN q = 0 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
      |    AS zero_frac
      |FROM ex
      |GROUP BY dim
      |ORDER BY dim""".stripMargin

  /** Thumbnail preprocessing over the real image rows — the
    * vision-encoder input step (graft.multimodal.Multimodal.thumbnails):
    * REAL ImageIO decode, integer box-average resize to 8×8, real PNG
    * re-encode, map-only. Rows-only (codec-backed) but SPEC-EXACT for
    * png rows: the resize arithmetic is replayed independently from the
    * synthesis pattern, the mm_audio contract. GIF rows thumbnail their
    * poster (first) frame.
    */
  def mmThumb(s: SparkSession, dir: String): DataFrame =
    Multimodal.thumbnails(Multimodal.mediaTable(Tables(s, dir).documents,
        Seq("png", "jpeg", "gif")))
      .toDF()
      .filter(col("decoded"))
      .orderBy(col("media_id"))

  /** Matryoshka truncation audit (Kusupati arXiv:2205.13147) — the
    * "how many dimensions do I actually need" study behind every
    * dimension-budget decision (MRL-trained models serve the PREFIX of
    * the embedding at reduced cost): for each budget d ∈ {8,16,32,64}
    * and each probe query (vec_id % 50 = 0), the top-10 neighbors by
    * prefix-d cosine, reported as overlap@10 against the full-dim
    * top-10 plus the integer-quantized cosine mass of the truncated
    * top-10. Rankings compare ROUNDED (1e-6) cosines with vec_id
    * tiebreaks, so order is engine- and partition-exact, which is what
    * lets an ANN-adjacent op carry a full hash oracle.
    *
    * Scale (100 TB): the probe set is KB-scale → broadcast; each
    * budget is one corpus scan (the slice materializes BEFORE the
    * native dot — the §8 HOF lesson); per-(query,budget) top-10 rides
    * row_number → WindowGroupLimit, so the limit applies before the
    * exchange. Cost = |budgets| linear scans, no quadratic anywhere.
    */
  def embMatryoshka(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budgets = Seq(8, 16, 32, 64)
    val emb = Tables(s, dir).embeddings
    val probes = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = budgets.map { d =>
      val q = probes
        .withColumn("q_t", slice(col("q_emb"), 1, d))
        .withColumn("q_norm", graft.sim.Vectors.normD(col("q_t")))
        .select(col("q_id"), col("q_t"), col("q_norm"))
      val c = emb
        .select(col("vec_id").as("c_id"),
          slice(col("embedding"), 1, d).as("c_t"))
        .withColumn("c_norm", graft.sim.Vectors.normD(col("c_t")))
      c.join(broadcast(q), col("c_id") =!= col("q_id"))
        .select(col("q_id"), lit(d).as("d"), col("c_id"),
          round(graft.sim.Vectors.cosineWithNorms(
            graft.sim.Vectors.dotD(col("q_t"), col("c_t")),
            col("q_norm"), col("c_norm")), 6).as("cos"))
    }.reduce(_ unionByName _)
    val top = scored
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"),
        col("d")).orderBy(col("cos").desc, col("c_id"))))
      .filter(col("rk") <= 10)
    val fullTop = top.filter(col("d") === 64)
      .select(col("q_id").as("f_q"), col("c_id").as("f_c"))
    top.join(fullTop,
        top("q_id") === fullTop("f_q") && top("c_id") === fullTop("f_c"),
        "left")
      .groupBy(col("q_id"), col("d"))
      .agg(count(col("f_c")).as("overlap10"),
        sum(floor(col("cos") * 1e6 + 0.5).cast("long")).as("sum_qcos"))
      .orderBy(col("q_id"), col("d"))
  }

  val embMatryoshkaSql: String =
    """WITH b(d) AS (VALUES (8), (16), (32), (64)),
      |q AS (SELECT vec_id AS q_id, embedding AS qe
      |      FROM embeddings WHERE vec_id % 50 = 0),
      |sc AS (
      |  SELECT q.q_id, b.d, c.vec_id AS c_id,
      |    round(list_sum(list_transform(range(1, b.d + 1),
      |            i -> q.qe[i]::DOUBLE * c.embedding[i]::DOUBLE)) /
      |      (sqrt(list_sum(list_transform(range(1, b.d + 1),
      |            i -> q.qe[i]::DOUBLE * q.qe[i]::DOUBLE))) *
      |       sqrt(list_sum(list_transform(range(1, b.d + 1),
      |            i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))),
      |      6) AS cos
      |  FROM q, b, embeddings c
      |  WHERE c.vec_id <> q.q_id),
      |rk AS (
      |  SELECT q_id, d, c_id, cos, row_number() OVER (
      |    PARTITION BY q_id, d ORDER BY cos DESC, c_id) AS r
      |  FROM sc),
      |top AS (SELECT q_id, d, c_id, cos FROM rk WHERE r <= 10),
      |ft AS (SELECT q_id, c_id FROM top WHERE d = 64)
      |SELECT t.q_id, t.d, count(f.c_id) AS overlap10,
      |  sum(floor(t.cos * 1e6 + 0.5)::BIGINT)::BIGINT AS sum_qcos
      |FROM top t LEFT JOIN ft f ON t.q_id = f.q_id AND t.c_id = f.c_id
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** The calibration histogram's hard pair cap: the id-modulo sample
    * is sized so the quadratic side never exceeds ~this many cosine
    * evaluations REGARDLESS of corpus size (sampleMod =
    * ⌈n/√(2·budget)⌉ ⇒ pairs ≈ (n/sampleMod)²/2 ≤ budget). 5e5 pairs
    * is seconds of work on one executor — and √(2·5e5) = 1000 exactly,
    * so the modulus arithmetic (⌈n/1000.0⌉) is bit-identical between
    * Spark and the DuckDB oracle.
    */
  val embCosHistPairBudget: Long = 500000L

  /** Pairwise-cosine histogram on a deterministic id-modulo sample —
    * the threshold-calibration tool run BEFORE picking a SemDeDup /
    * embedding-dedup τ: the histogram's high-cos tail shows where the
    * near-dup mass separates from the background bulk (this corpus:
    * bulk near 0, nothing above 0.6 — why dedup_embedding runs at
    * τ=0.4). Buckets are 0.05 wide over rounded cosines.
    *
    * Scale: the sample modulus is DERIVED IN-PLAN from the corpus
    * count against [[embCosHistPairBudget]] (one-row broadcast
    * aggregate, the q_basket move — no driver collect, no extra
    * plan-build job): sampleMod = max(1, ⌈n/√(2·budget)⌉), so the
    * sampled side is ~√(2·budget) rows and the self-join is a CONSTANT
    * ≤ budget pairs at any corpus size — 10⁹ vectors cost the same
    * histogram work as 10⁵ (calibration needs the distribution's
    * shape, not every pair). The modulus replays exactly in the SQL
    * oracle.
    */
  def embCosHist(s: SparkSession, dir: String): DataFrame = {
    val all = Tables(s, dir).embeddings
      .select(col("vec_id"), col("embedding"))
    val smod = all.agg(
      greatest(lit(1L),
        ceil(count(lit(1)).cast("double") /
          sqrt(lit(2.0 * embCosHistPairBudget)))).as("smod"))
    val emb = all.crossJoin(broadcast(smod))
      .filter(col("vec_id") % col("smod") === 0)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", graft.sim.Vectors.normD(col("embedding")))
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(floor(round(graft.sim.Vectors.cosineWithNorms(
          graft.sim.Vectors.dotD(col("va"), col("vb")),
          col("na"), col("nb")), 6) * 20).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("bucket"))
  }

  val embCosHistSql: String =
    """WITH m AS (
      |  SELECT greatest(1, CAST(ceil(count(*) /
      |    sqrt(2.0 * 500000)) AS BIGINT)) AS smod
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id, embedding FROM embeddings, m
      |  WHERE vec_id % m.smod = 0)
      |SELECT floor(cos * 20)::BIGINT AS bucket, count(*) AS n_pairs FROM (
      |  SELECT round(
      |    list_sum(list_transform(range(1, len(a.embedding) + 1),
      |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) /
      |    (sqrt(list_sum(list_transform(a.embedding,
      |        x -> x::DOUBLE * x::DOUBLE))) *
      |     sqrt(list_sum(list_transform(b.embedding,
      |        x -> x::DOUBLE * x::DOUBLE)))), 6) AS cos
      |  FROM s a, s b
      |  WHERE a.vec_id < b.vec_id)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Embedding drift monitor — the dense-space twin of text_jsd's
    * distribution drift: per label, the cosine between the centroid of
    * the even-id half and the centroid of the odd-id half of the
    * corpus (in production: yesterday's crawl vs today's, or old
    * encoder vs re-embedded). A drifting corpus/encoder pulls the two
    * centroids apart; a stable one keeps cos ≈ 1. Exactness is the
    * emb_outliers escrow: centroid cosine = cosine of the SUM vectors
    * (the 1∕n scales cancel), component sums are 1e-6-quantized
    * integers, and the cross products ride DECIMAL(38,0) — no float
    * crosses rows, so a drift ALERT can never flip on partition order.
    *
    * Scale (100 TB): two partial-aggregatable passes (per
    * (label, half, dim) sums → per-label combine), output at label
    * cardinality. The halves read ONE table here only because the test
    * corpus is one table; the shape is two independent scans merged at
    * vocab scale.
    */
  def embDrift(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val ex = Tables(s, dir).embeddings
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("q", floor(col("x").cast("double") * 1e6 + 0.5).cast("long"))
      .withColumn("half", pmod(col("vec_id"), lit(2L)))
    val byDim = ex.groupBy(col("label"), col("dim"))
      .agg(sum(when(col("half") === 0, col("q"))).as("sa"),
        sum(when(col("half") === 1, col("q"))).as("sb"))
    val cosines = byDim.groupBy(col("label"))
      .agg(sum(col("sa").cast(dec) * col("sb")).as("dot"),
        sum(col("sa").cast(dec) * col("sa")).as("na2"),
        sum(col("sb").cast(dec) * col("sb")).as("nb2"))
      .select(col("label"),
        when(col("na2") > 0 && col("nb2") > 0,
          round(col("dot").cast("double") /
            (sqrt(col("na2").cast("double")) *
              sqrt(col("nb2").cast("double"))), 6)).as("cos_drift"))
    val ns = Tables(s, dir).embeddings
      .groupBy(col("label").as("n_label"))
      .agg(count(when(pmod(col("vec_id"), lit(2L)) === 0, 1)).as("n_a"),
        count(when(pmod(col("vec_id"), lit(2L)) === 1, 1)).as("n_b"))
    cosines.join(broadcast(ns), col("label") === col("n_label"))
      .select(col("label"), col("n_a"), col("n_b"), col("cos_drift"))
      .orderBy(col("label"))
  }

  val embDriftSql: String =
    """WITH ex0 AS (
      |  SELECT vec_id, label, vec_id % 2 AS half, embedding AS e,
      |    unnest(range(len(embedding))) AS dim
      |  FROM embeddings),
      |ex AS (
      |  SELECT label, half, dim,
      |    floor(e[dim + 1]::DOUBLE * 1e6 + 0.5)::BIGINT AS q
      |  FROM ex0),
      |bd AS (
      |  SELECT label, dim,
      |    sum(CASE WHEN half = 0 THEN q END)::BIGINT AS sa,
      |    sum(CASE WHEN half = 1 THEN q END)::BIGINT AS sb
      |  FROM ex GROUP BY 1, 2),
      |cosines AS (
      |  SELECT label,
      |    CASE WHEN sum(sa::HUGEINT * sa) > 0 AND sum(sb::HUGEINT * sb) > 0
      |      THEN round(sum(sa::HUGEINT * sb)::DOUBLE /
      |        (sqrt(sum(sa::HUGEINT * sa)::DOUBLE) *
      |         sqrt(sum(sb::HUGEINT * sb)::DOUBLE)), 6)
      |    END AS cos_drift
      |  FROM bd GROUP BY 1),
      |ns AS (
      |  SELECT label,
      |    count(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS n_a,
      |    count(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS n_b
      |  FROM embeddings GROUP BY 1)
      |SELECT c.label, ns.n_a, ns.n_b, c.cos_drift
      |FROM cosines c JOIN ns ON c.label = ns.label
      |ORDER BY c.label""".stripMargin

  /** Nearest-class-mean assignment share — the domain-mixture audit a
    * curation pipeline runs to see how the labeled taxonomy holds up
    * under its own centroids (label drift, cluster bleed, the NCM
    * confusion matrix): each vector is assigned to the nearest
    * per-label mean (emb_centroids' EXACT 1e-6-rounded arithmetic) and
    * the (true label × assigned label) counts are reported.
    *
    * Engine-exact argmin without a window or a per-vector exchange:
    * all |labels| centroids ride ONE collected row through a broadcast
    * crossJoin; per vector the candidate array maps each centroid to
    * the integer key dist_q·1024+label (per-DIM squared deltas
    * quantized to 1e-9 units and summed as integers, so the sum is
    * order-invariant — no float-accumulation drift between engines or
    * partitionings) and array_min picks the winner, ties broken by
    * smaller label. The radix bounds the label space at 1024 classes
    * (headroom: dist_q ≤ 64 dims · (x−c)² · 1e9 ≈ 2.6e13 for unit-ish
    * embeddings, ×1024 ≈ 2.7e16 ≪ 2⁶³); a label outside [0, 1024)
    * RAISES at the centroid build (a raise_error guard on the
    * label-cardinality frame — zero corpus-side cost), so an
    * out-of-radix corpus fails loudly instead of silently wrapping
    * the assignment; the MAGNITUDE half of the headroom is guarded
    * the same way (max |x| ≤ 180 riding the centroid aggregate — the
    * inline bound derivation), so "unit-ish" is enforced, not assumed. Map-side after a KB broadcast; the only
    * exchanges are the centroid build (64·|labels| partial-agg rows)
    * and the final |labels|² count — the 100 TB shape of every
    * assign-to-codebook pass (IVF routing, NCM classify, domain mix).
    */
  def embNcmShare(s: SparkSession, dir: String): DataFrame = {
    val e = Tables(s, dir).embeddings
    val cents = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("x").cast("double")), 6).as("c"),
        max(abs(col("x").cast("double"))).as("mx"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("dc"),
        max(col("mx")).as("mx"))
      .select(
        when(col("label") < 0 || col("label") >= 1024,
          raise_error(concat(
            lit("emb_ncm_share: label outside the 1024-class radix: "),
            col("label").cast("string"))))
          // the 63-bit key's headroom also assumes bounded embedding
          // MAGNITUDE: with max|x| ≤ 180, every centroid mean lies in
          // [−180, 180], so per-dim (x−c)² ≤ 360² and the worst key is
          // 64·360²·1e9·1024 ≈ 8.5e18 < 2⁶³−1 ≈ 9.22e18. Every label
          // row carries its own max|x| (riding the same partial
          // aggregate that builds the centroids — zero extra corpus
          // passes) and every x belongs to some label, so ANY
          // out-of-range value in the corpus RAISES here instead of
          // silently wrapping the argmin.
          .when(col("mx") > 180.0,
            raise_error(concat(
              lit("emb_ncm_share: embedding magnitude exceeds the " +
                "quantized-key headroom (max |x| = "),
              col("mx").cast("string"), lit(" > 180))"))))
          .otherwise(col("label")).as("clabel"),
        expr("transform(dc, p -> p.c)").as("cvec"))
      .agg(array_sort(collect_list(struct(col("clabel"), col("cvec"))))
        .as("cents"))
    e.crossJoin(broadcast(cents))
      .select(col("label"),
        pmod(array_min(expr(
          """transform(cents, c ->
            |  aggregate(zip_with(embedding, c.cvec, (x, m) ->
            |      CAST(floor((CAST(x AS DOUBLE) - m) * (CAST(x AS DOUBLE) - m)
            |        * 1000000000 + 0.5) AS BIGINT)),
            |    0L, (a, b) -> a + b) * 1024 + CAST(c.clabel AS BIGINT))"""
            .stripMargin)), lit(1024L)).as("assigned"))
      .groupBy(col("label"), col("assigned"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("assigned"))
  }

  val embNcmShareSql: String =
    """WITH cent AS (
      |  SELECT label AS clabel, i AS dim,
      |    round(avg(embedding[i]::DOUBLE), 6) AS c
      |  FROM embeddings, range(1, 65) t(i)
      |  GROUP BY clabel, dim),
      |dist AS (
      |  SELECT e.vec_id, e.label, cent.clabel,
      |    sum(floor((e.embedding[cent.dim]::DOUBLE - cent.c)
      |          * (e.embedding[cent.dim]::DOUBLE - cent.c)
      |          * 1000000000 + 0.5)::BIGINT) AS dq
      |  FROM embeddings e, cent
      |  GROUP BY e.vec_id, e.label, cent.clabel),
      |best AS (
      |  SELECT vec_id, label, min(dq * 1024 + clabel) AS b
      |  FROM dist GROUP BY vec_id, label)
      |SELECT label, (b % 1024)::BIGINT AS assigned, count(*) AS n
      |FROM best GROUP BY label, assigned
      |ORDER BY label, assigned""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_ncm_share" -> (embNcmShare _),
    "emb_drift" -> (embDrift _),
    "emb_matryoshka" -> (embMatryoshka _),
    "emb_cos_hist" -> (embCosHist _),
    "mm_thumb" -> (mmThumb _),
    "emb_dim_stats" -> (embDimStats _),
    "emb_outliers" -> (embOutliers _),
    "mm_phash" -> (mmPhash _),
    "emb_pca" -> (embPca _),
    "emb_whiten" -> (embWhiten _),
    "sample_diverse" -> (sampleDiverse _),
    "knn_classify" -> (knnClassify _),
    "knn_classify_cell" -> (knnClassifyCell _),
    "knn_brute" -> (knnBrute _),
    "knn_hamming" -> (knnHamming _),
    "knn_hard_negatives" -> (knnHardNegatives _),
    "knn_hamming_rerank" -> (knnHammingRerank _),
    "q_ndcg" -> (qNdcg _),
    "knn_lsh" -> (knnLsh _),
    "knn_ivf" -> (knnIvf _),
    "knn_pq" -> (knnPq _),
    "knn_ivfpq" -> (knnIvfPq _),
    "knn_graph" -> (knnGraph _),
    "knn_graph_cell" -> (knnGraphCell _),
    "knn_recall" -> (knnRecall _),
    "emb_pq" -> (embPq _),
    "emb_centroids" -> (embCentroids _),
    "mm_meta" -> (mmMeta _),
    "mm_audio" -> (mmAudio _),
    "mm_vad" -> (mmVad _),
    "mm_frames" -> (mmFrames _))

  val oracleSql: Map[String, String] = Map(
    "emb_ncm_share" -> embNcmShareSql,
    "emb_drift" -> embDriftSql,
    "emb_matryoshka" -> embMatryoshkaSql,
    "emb_cos_hist" -> embCosHistSql,
    "emb_dim_stats" -> embDimStatsSql,
    "emb_outliers" -> embOutliersSql,
    "knn_classify" -> knnClassifySql,
    "knn_brute" -> knnBruteSql,
    "knn_hamming" -> knnHammingSql,
    "knn_hard_negatives" -> knnHardNegativesSql,
    "knn_hamming_rerank" -> knnHammingRerankSql,
    "q_ndcg" -> qNdcgSql,
    "knn_graph" -> knnGraphSql,
    "emb_centroids" -> embCentroidsSql)
}
