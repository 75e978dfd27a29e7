package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact n-gram Jaccard pair mining via a PREFIX-FILTERED inverted
  * index (the AllPairs/PPJoin family, Xiao et al., WWW'08).
  *
  * The naive inverted index joins every co-occurrence: Σ df² candidate
  * rows — one shingle in 1M docs alone emits 5·10¹¹ pairs. Prefix
  * filtering makes the index sparse while staying EXACT:
  *
  *  1. order all shingles canonically by (document frequency, shingle)
  *     — rarest first;
  *  2. any pair with J(a,b) ≥ τ shares o ≥ ⌈τ·|a|⌉ shingles, and its
  *     smallest common shingle s* has at least o−1 common shingles
  *     after it in BOTH docs' ordered sets — so s* sits within the
  *     first |x| − o + 1 shingles of each. Indexing only that PREFIX
  *     per doc still discovers every qualifying pair, via its minimum
  *     common shingle;
  *  3. candidates (distinct pairs from the prefix join) are verified
  *     with one `array_intersect` on the full shingle arrays — J is
  *     exact, reported to 4 decimals.
  *
  * At τ = 0.7 the prefix is ≈ 30% of each doc, and because the order
  * is df-ascending the prefix is the RARE end: high-df shingles almost
  * never enter any index row. df = 1 shingles are dropped entirely
  * (a shared shingle has df ≥ 2 by definition; the rank arithmetic
  * accounts for the removal). The candidate side shrinks from Σ df²
  * to Σ df_prefix² over rare shingles — the difference between "dies
  * at corpus scale" and "bounded by the planted-duplicate density".
  *
  * `maxDf` additionally drops shingles with df > maxDf from the index
  * (NOT from verification): with the cap a pair glued ONLY by
  * ultra-common shingles can be missed — conservative for near-dup
  * mining, where true near-dups share rare shingles — but every
  * reported pair carries its exact J either way. maxDf ≥ corpus size
  * (e.g. Int.MaxValue) = complete exact output, the regime the DuckDB
  * oracle checks.
  *
  * Shuffles: explode keys on shingle (uniform), ranking windows key on
  * doc_id, candidate distinct keys on (id_a, id_b), verification joins
  * key on doc_id. All uniform, AQE-safe; nothing materializes a
  * per-pair array except for verified candidates.
  */
object NgramJaccard {

  /** (doc_id, shingles) — [[MinHashLSH.shingled]] behind the
    * scan-parallelism floor (graft.util.Fanout doc; a no-op at scale).
    */
  private[dedup] def shingle(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    MinHashLSH.shingled(graft.util.Fanout.ensure(docs), idCol, textCol, n)

  /** The narrow prefix index (doc_id, sh): the rarest
    * |kept|−⌈τ·|orig|⌉+1 shingles per doc in (df, shingle) order, df=1
    * and df>maxDf dropped. The −1e−9 guards float error on exact
    * multiples of τ·|a| (rounding o UP would shrink the prefix and
    * could miss pairs; down only adds candidates).
    */
  private[dedup] def prefixIndex(shingled: DataFrame, tau: Double,
      maxDf: Int): DataFrame = {
    val ex = shingled.select(col("doc_id"),
      size(col("shingles")).as("n_orig"), explode(col("shingles")).as("sh"))
    val dfs = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 1 && col("df") <= maxDf)
    val kept = ex.join(dfs, "sh")
    // canonical rank within each doc; both windows share one exchange
    val byDoc = Window.partitionBy(col("doc_id"))
    val ranked = kept.select(col("doc_id"), col("n_orig"), col("sh"),
      row_number().over(byDoc.orderBy(col("df"), col("sh"))).as("rk"),
      count(lit(1)).over(byDoc).as("n_kept"))
    ranked
      .filter(col("rk") <=
        col("n_kept") - ceil(lit(tau) * col("n_orig") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("sh"))
  }

  /** Distinct candidate pairs from the prefix self-join, verified on
    * the full shingle arrays ([[MinHashLSH.verifyJaccard]]).
    * Output: (id_a, id_b, jaccard), id_a < id_b.
    */
  private[dedup] def verifiedPairs(prefix: DataFrame, shingled: DataFrame,
      tau: Double): DataFrame = {
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    MinHashLSH.verifyJaccard(cand
        .join(shingled.select(col("doc_id").as("id_a"),
          col("shingles").as("sh_a")), "id_a")
        .join(shingled.select(col("doc_id").as("id_b"),
          col("shingles").as("sh_b")), "id_b"),
        "sh_a", "sh_b", tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Jaccard ≥ tau pairs over word n-grams, self-managed lifecycle —
    * derivation + search + cleanup in one call (for an index reused
    * across calls, [[NgramIndex]] pays the derivation once instead).
    * Output: (id_a, id_b, jaccard rounded to 4), id_a < id_b.
    *
    * NOTE the call is EAGER: the verified pair table is materialized
    * (a localCheckpoint job runs) before this returns, because the
    * shared prefix index below must not outlive the call. Lifecycle of
    * the returned frame's blocks: Caches.release / ContextCleaner.
    */
  def pairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, maxDf: Int = 100): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    // the shingle table feeds three consumers (prefix derivation + both
    // verification joins), so it is persisted for the call. persist, NOT
    // localCheckpoint: a checkpoint is an eager extra job plus an AQE
    // re-planning barrier (measured ~8 s/call at sf0.1), while persist
    // fills lazily during the first consumer's pass and keeps runtime
    // re-planning alive — measured 4.0 → 2.6 s/call warm at sf0.1. The
    // entry is dropped in finally, so nothing outlives the call (the r4
    // leak class). At extreme corpus scale, where even spill-backed
    // executor storage for the full shingle table is unwanted,
    // materialize it to parquet once instead.
    val shingled = shingle(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the PREFIX index is shared even though the shingle table is
    // not: it is narrow (doc, sh) rows, and each side of the self-join
    // otherwise re-runs the whole shingle → df → rank-window
    // derivation — the same narrow-index/wide-source split as
    // MinHashLSH's band table. Unlike the band table (map-only
    // derivation → lazy localCheckpoint is free), the prefix plan
    // carries a join + two windows whose AQE runtime re-planning a
    // checkpoint boundary defeats — measured at sf0.1: lazy
    // localCheckpoint ~8 s, Dataset.persist ~2.3 s per call. So:
    // persist for the derivation, EAGERLY materialize the (tiny,
    // near-dup-density-bounded) verified pair table, and unpersist in
    // finally — the CacheManager entry never outlives the call (the r4
    // leak), and the returned frame is a materialized localCheckpoint
    // (Caches.release / ContextCleaner own its blocks).
    val prefix = prefixIndex(shingled, tau, maxDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try verifiedPairs(prefix, shingled, tau).localCheckpoint()
    finally { prefix.unpersist(false); shingled.unpersist(false) }
  }
}
