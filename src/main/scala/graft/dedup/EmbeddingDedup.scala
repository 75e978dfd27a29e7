package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sim.Vectors

/** Embedding-cosine near-duplicate pairs: a CELL-BLOCKED default
  * ([[cellPairs]] — candidates from shared IVF cells, exact cosine
  * verify on candidates only) and the exact quadratic validator
  * ([[pairs]] — every pair scored), same output contract.
  *
  * Why cells and not sign-LSH for the dedup default: banding quality
  * is set by the per-plane collision probability 1 − θ/π at the
  * target τ. At true near-dup thresholds (τ ≥ 0.85) that is ≥ 0.82
  * and hyperplane tables concentrate fast — but embedding dedup is
  * routinely run down at τ ≈ 0.4–0.6 (semantic-cluster pruning, the
  * regime this corpus plants), where a cos-0.4 pair agrees with a
  * random hyperplane only 63% of the time and any table geometry
  * either misses pairs or out-generates the quadratic join. Cell
  * blocking keys on the corpus's OWN cluster structure instead: rows
  * probe their nProbe nearest IVF cells (the shared NearestCells
  * kernel), candidates are pairs sharing ANY probed cell, and the
  * candidate volume is Σ_cells |cell|² ≈ n²·nProbe²∕C — sub-quadratic
  * in the cell count, and C grows with the corpus exactly as in IVF
  * search (the same centroid fit is reused for both).
  */
object EmbeddingDedup {

  /** Cell-blocked near-dup pairs — the scale default. Candidates =
    * pairs of rows sharing at least one of their `nProbe` nearest IVF
    * cells; each candidate is verified with the EXACT rounded cosine
    * (identical arithmetic to [[pairs]] — a reported pair can never
    * disagree with the validator, only be missing, and DedupSpec pins
    * recall on the planted corpus).
    *
    * Plan shape: one map pass assigns cells (centroid matrix as a
    * single codegen reference object), the candidate self-join keys on
    * cell (narrow id+cell rows through the exchange), distinct pairs,
    * then two equi-joins fetch the vectors for verification — no
    * cartesian-class join anywhere (PlanSpec pins it). A skewed giant
    * cell re-splits under AQE; at corpus scale C scales with n (as in
    * IVF search), keeping Σ|cell|² bounded.
    *
    * `centroids`: pass a memoized/loaded fit to skip the Lloyd scans
    * (the same centroid table IVF search uses); None fits fresh.
    */
  def cellPairs(embs: DataFrame, idCol: String, vecCol: String, tau: Double,
      c: Int = 16, iters: Int = 2, nProbe: Int = 2,
      centroids: Option[Array[(Int, Array[Float])]] = None): DataFrame = {
    val cents = centroids.getOrElse(
      graft.sim.Knn.fitCentroids(embs, idCol, vecCol, c, iters))
    val assigned = graft.sim.Knn.assignCells(
        embs.select(col(idCol).as("id"), col(vecCol).as("v")),
        "id", "v", cents, nProbe)
      .select(col("id"), explode(col("cells")).as("cell"))
    val cand = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val normed = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
      Vectors.normD(col(vecCol)).as("nrm"))
    cand
      .join(normed.select(col("id").as("id_a"), col("v").as("v_a"),
        col("nrm").as("n_a")), "id_a")
      .join(normed.select(col("id").as("id_b"), col("v").as("v_b"),
        col("nrm").as("n_b")), "id_b")
      .withColumn("cos", round(
        Vectors.cosineWithNorms(Vectors.dotD(col("v_a"), col("v_b")),
          col("n_a"), col("n_b")), 6))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Pairs (id_a < id_b) with cosine ≥ tau, cosine rounded to 6 (the
    * threshold is applied to the ROUNDED value so Spark and the DuckDB
    * oracle agree on boundary pairs).
    */
  def pairs(embs: DataFrame, idCol: String, vecCol: String, tau: Double): DataFrame = {
    val withNorm = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
      Vectors.normD(col(vecCol)).as("nrm"))
    // one side broadcasts (they are the same table — force it so the
    // plan is stable); the STREAM side fans out to the cluster's
    // default parallelism first: its task count is otherwise the
    // corpus scan's split count — ONE for a small single-row-group
    // parquet file — while the stage above it scores n²∕2 pairs
    // (Knn.brute's unsplittable-input move, same rationale)
    val a = graft.util.Fanout.ensure(
      withNorm.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a")))
    val b = withNorm.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cos", round(
        Vectors.cosineWithNorms(Vectors.dotD(col("v_a"), col("v_b")),
          col("n_a"), col("n_b")), 6))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), col("cos"))
  }
}
