package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A TRAINED, PERSISTENT random-hyperplane (sign) LSH index, the LSH
  * counterpart of [[IvfIndex]]: L tables × b Rademacher hyperplanes,
  * bucket = the b sign bits. The hyperplanes are seeded and
  * deterministic, re-derived from `(tables, bits, seed, dim)`, so
  * bucketing is a pure per-row map — no fit step, no model state.
  *
  * `build` buckets every corpus vector (with its precomputed norm)
  * into all `tables` hash tables. `save` writes the bucket table
  * PARTITIONED BY (table_id, bucket) plus a one-row geometry table —
  * the planes themselves never need storing. A search against a loaded
  * index joins the broadcast query probes against the partitioned
  * bucket table, and dynamic partition pruning cuts the scan to ONLY
  * the probed buckets: at radius-1 multiprobe that is tables×(bits+1)
  * directories of tables×2^bits — e.g. 144 of 4096 (3.5%) at the
  * default 16×8 geometry. The spec pins the `dynamicpruning` subquery
  * in the plan and the result parity with the `knn_lsh` face.
  */
final case class LshIndex(tables: Int, bits: Int, seed: Long, dim: Int,
    buckets: DataFrame) {

  /** Approximate top-k for `queries` against the indexed corpus, with
    * query-side multiprobe: the query also probes every bucket within
    * Hamming `probeRadius` of its own (cheap XORs on the bucket value),
    * the corpus stays single-bucketed — so multiprobe cost scales with
    * the QUERY side only. Same-bucket-in-any-table candidates, then
    * exact scoring + rank on candidates only.
    */
  def search(queries: DataFrame, idCol: String, vecCol: String,
      k: Int, probeRadius: Int = 1): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= 1,
      s"only Hamming radius 0 or 1 probing is implemented, got $probeRadius")
    val probes = (b: Column) => array((b +:
      (if (probeRadius >= 1) (0 until bits).map(i => b.bitwiseXOR(lit(1 << i)))
       else Seq.empty)): _*)
    val qs = Knn.withNorm(queries, idCol, vecCol, "query_id", "qv", "qn")
      .select(col("query_id"), col("qv"), col("qn"),
        posexplode(LshIndex.bucketsCol(col("qv"), dim, tables, bits, seed))
          .as(Seq("table_id", "bucket0")))
      .select(col("query_id"), col("qv"), col("qn"), col("table_id"),
        explode(probes(col("bucket0"))).as("bucket"))
    // Score each candidate OCCURRENCE map-side, then dedupe on the id
    // pair with max(cos) — a partial-aggregatable shuffle of
    // (long, long, double) rows. The previous shape (distinct() on the
    // pair WITH both vectors, score after) shipped 2×64 floats per row
    // through the dedup exchange and compared whole arrays in the
    // grouping key; re-scoring a pair per colliding table is cheap
    // codegen'd CPU, shuffle bytes are the scarce resource. cos is
    // identical across a pair's occurrences, so max() is just dedup.
    val scored = broadcast(qs).join(buckets, Seq("table_id", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), Knn.pairCos.as("cos"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cos")).as("cos"))
    Knn.pairTopK(scored, k)
  }

  /** Persist as `<dir>/geometry` + `<dir>/buckets` (partitioned by
    * (table_id, bucket)).
    */
  def save(dir: String): Unit = {
    val spark = buckets.sparkSession
    import spark.implicits._
    Seq((tables, bits, seed, dim))
      .toDF("tables", "bits", "seed", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/geometry")
    buckets.write.mode("overwrite").partitionBy("table_id", "bucket")
      .parquet(s"$dir/buckets")
  }
}

object LshIndex {

  /** One bucket value per table (array of `tables` ints), computed by
    * the native [[graft.functions.LshBuckets]] expression — one plan
    * node holding the plane matrix as a reference object. The previous
    * literal formulation (a `when(dot ≥ 0, …)` chain per plane, each
    * against a 64-element array literal) put 2×16384 literal leaves
    * through analysis/optimization/codegen per query construction,
    * which dominated the LSH path's wall clock at sf0.1. Bucket values
    * are bit-identical (SimSpec pins the parity), so multiprobe XOR
    * flips on the materialized value are unchanged.
    */
  private def bucketsCol(vec: Column, dim: Int, tables: Int, bits: Int,
      seed: Long): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.LshBuckets(
        org.apache.spark.sql.graft.ColumnBridge.expression(vec),
        tables, bits, seed, dim))

  /** Bucket the corpus into every table; columns of `buckets`:
    * (neighbor_id, nv, nn, table_id, bucket).
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, tables: Int = 16, bits: Int = 8, seed: Long = 42L): LshIndex =
    LshIndex(tables, bits, seed, dim,
      Knn.withNorm(corpus, idCol, vecCol, "neighbor_id", "nv", "nn")
        .select(col("neighbor_id"), col("nv"), col("nn"),
          posexplode(bucketsCol(col("nv"), dim, tables, bits, seed))
            .as(Seq("table_id", "bucket"))))

  def load(spark: SparkSession, dir: String): LshIndex = {
    // by NAME, not ordinal: a silent column-order change in the
    // geometry table would otherwise swap parameters (wrong planes →
    // garbage search results, no error) — the on-disk contract is
    // self-describing
    val g = spark.read.parquet(s"$dir/geometry").head()
    LshIndex(g.getAs[Int]("tables"), g.getAs[Int]("bits"),
      g.getAs[Long]("seed"), g.getAs[Int]("dim"),
      spark.read.parquet(s"$dir/buckets"))
  }
}
