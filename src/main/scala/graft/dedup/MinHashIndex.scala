package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent MinHash band index — the INCREMENTAL dedup story: index
  * the existing corpus once, then probe each new batch against it
  * without touching old text again (the "new crawl vs. training set"
  * shape production pipelines run daily; the all-pairs path
  * [[MinHashLSH.nearDuplicates]] is for deduping a corpus against
  * itself).
  *
  * The index holds TWO tables: the narrow (doc_id, band_id, band_hash)
  * band table — the join side, 16 rows per doc — and the (doc_id,
  * shingles) table that exact verification needs. Persisted form
  * partitions the bands by band_id (a probe joins per band, so one
  * batch's candidates read only matching band directories in a
  * band-pruned plan) and stores shingles as a plain parquet table
  * (only candidate ids are ever joined against it). Probing is
  * map-only on the new batch until the one (band_id, band_hash)
  * equi-join; band hashes are uniform xxhash64 outputs, so the join
  * key is skew-free unless a bucket is a genuine giant duplicate
  * cluster (AQE splits it).
  *
  * Geometry is [[MinHashLSH]]'s 16×4 and must match between index and
  * probe by construction (both call the same signature/band builders).
  * Completeness inherits the same S-curve: a true pair at Jaccard 0.9
  * is missed with P ≈ 4·10⁻⁸.
  */
object MinHashIndex extends graft.util.Epochs.Layout {

  /** In-memory handle: `bands` and `shingles` for the indexed corpus. */
  final case class Index(bands: DataFrame, shingles: DataFrame)

  /** Index a corpus: shingle → sign → band, both tables returned.
    * The SHINGLE table is pinned via lazy localCheckpoint ([[save]]/
    * [[load]] is the durable form) and the bands derive from the
    * pinned copy: a probe's plan otherwise re-runs the whole
    * tokenize→shingle derivation of the OLD corpus twice per run (once
    * under the band join, once under the verify join) — the opposite
    * of "index once". The pin is corpus-shingle-sized, which is exactly what an
    * index is; blocks are ContextCleaner-reclaimed when the handle is
    * dropped (the MinHashLSH share pattern).
    */
  def build(docs: DataFrame, idCol: String, textCol: String, n: Int): Index = {
    // corpus-scale by contract ("index the existing corpus once") —
    // floor the scan parallelism before the shingle derivation
    // (MinHashLSH.shingled's fan-out placement note)
    val sh = MinHashLSH.shingled(graft.util.Fanout.ensure(docs),
      idCol, textCol, n).localCheckpoint(false)
    Index(MinHashLSH.bands(MinHashLSH.signatures(sh)), sh)
  }

  /** Persist: bands partitioned by band_id, shingles plain. The two
    * writes are independent (disjoint inputs and outputs) and overlap
    * ([[graft.util.Par]]); note both derive from the handle's PINNED
    * shingle table (the build-time localCheckpoint), so the shared
    * subtree is materialized once, not raced.
    *
    * The bands write RANGE-partitions on (band_id, band_hash) first
    * (guide §6's cluster-on-write): each write task holds a contiguous
    * slice of one or two bands, so the dynamic-partition write creates
    * ~1 file per task instead of tasks × NumBands near-empty ones —
    * an unclustered save from a P-partition build otherwise lands
    * P × 16 files that every later probe/rewrite re-lists and
    * re-opens (measured: +5 s per lifecycle-audit run at sf0.1).
    * Unlike a hash repartition on band_id (which bottlenecks at 16
    * non-empty reducers at ANY corpus size), the range keeps the
    * write parallel at scale.
    */
  def save(index: Index, dir: String): Unit = {
    graft.util.Par.both(
      index.bands.repartitionByRange(col("band_id"), col("band_hash"))
        .write.mode("overwrite").partitionBy("band_id")
        .parquet(s"$dir/bands"),
      index.shingles.write.mode("overwrite").parquet(s"$dir/shingles"))
    ()
  }

  def load(spark: SparkSession, dir: String): Index =
    Index(spark.read.parquet(s"$dir/bands"),
      spark.read.parquet(s"$dir/shingles"))

  /** [[SnapshotIndex]]'s append write body: MERGE a new batch into
    * the index saved at `dir` (one epoch dir) — shingle/sign/band the
    * batch once (pinned, the [[build]] note) and parquet-append both
    * tables; existing band directories gain one file each, nothing old
    * is read or rewritten. After the day's probe admits its survivors,
    * appending them makes tomorrow's probe see them as "seen" without
    * a rebuild. Each append adds ~one file per band directory, which
    * the store's compact folds back on the cadence the file count
    * demands — weekly, not per-append.
    */
  private[graft] def append(newDocs: DataFrame, dir: String, idCol: String,
      textCol: String, n: Int): Unit = {
    // EAGER pin (was lazy): both appends consume the shingled batch
    // and write disjoint tables — materialize once, overlap the two
    // writes (graft.util.Par doc)
    val sh = MinHashLSH.shingled(newDocs, idCol, textCol, n)
      .localCheckpoint(true)
    try {
      graft.util.Par.both(
        MinHashLSH.bands(MinHashLSH.signatures(sh))
          .write.mode("append").partitionBy("band_id").parquet(s"$dir/bands"),
        sh.write.mode("append").parquet(s"$dir/shingles"))
      ()
    } finally graft.util.Caches.release(sh)
  }

  /** A doc counts as held only when BOTH tables hold it: [[append]]
    * commits the two tables in no order, so a rewrite can capture a
    * batch's shingles without its bands, and the store must then
    * re-append the batch (a shingle row twice is harmless; a missing
    * band row loses the admission).
    */
  def ids(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/bands").select("doc_id")
      .intersect(spark.read.parquet(s"$dir/shingles").select("doc_id"))

  /** Rows per shingle file after [[compactRewrite]]. */
  private val ShinglesPerFile = 1L << 20

  /** Bands → one file per band directory (hash repartition on band_id,
    * so each write task holds whole bands); shingles →
    * ⌈rows∕ShinglesPerFile⌉ files. The two table rewrites read
    * disjoint inputs and write disjoint outputs, so they overlap
    * ([[graft.util.Par]]). Probe results are byte-identical
    * before/after (spec-pinned).
    */
  def compactRewrite(spark: SparkSession)(cur: String, next: String): Unit = {
    val idx = load(spark, cur)
    graft.util.Par.both(
      idx.bands.repartition(col("band_id"))
        .write.mode("overwrite").partitionBy("band_id")
        .parquet(s"$next/bands"),
      {
        val nOut = math.max(1L,
          (idx.shingles.count() + ShinglesPerFile - 1) / ShinglesPerFile).toInt
        idx.shingles.repartition(nOut)
          .write.mode("overwrite").parquet(s"$next/shingles")
      })
    ()
  }

  /** Takedown (DMCA removals, right-to-be-forgotten, contaminated-
    * source retractions): both tables minus `ids`, the removal set
    * shipped as an in-list predicate pushed into the scan (takedown
    * lists are KB-scale against a corpus-scale index; a lake-scale
    * purge would swap in a broadcast anti-join).
    *
    * NO repartition on the bands side (unlike compact, whose job IS
    * re-layout): the band files are already clustered by band_id
    * directory, so each scan task holds whole bands and the
    * partitioned write lands ~1 file per (task, band) — a scan →
    * pushed filter → write plan with zero exchanges, without
    * shuffling the corpus-scale band table per takedown wave or
    * bottlenecking the write at NumBands reducers. A takedown
    * preserves the input layout; compact restores it.
    */
  def removeRewrite(spark: SparkSession, ids: Seq[Long])(
      cur: String, next: String): Unit = {
    val idx = load(spark, cur)
    graft.util.Par.both(
      idx.bands.filter(!col("doc_id").isInCollection(ids))
        .write.mode("overwrite").partitionBy("band_id")
        .parquet(s"$next/bands"),
      idx.shingles.filter(!col("doc_id").isInCollection(ids))
        .write.mode("overwrite").parquet(s"$next/shingles"))
    ()
  }

  /** Near-duplicate pairs between a NEW batch and the indexed corpus:
    * (new_id, seen_id, jaccard ≥ tau), exact Jaccard verified on true
    * shingle sets. The new batch is shingled/signed/banded map-side;
    * the indexed corpus comes from the handle's pinned (or loaded)
    * tables, not recomputation — see [[build]]'s checkpoint note.
    */
  def probe(index: Index, newDocs: DataFrame, idCol: String,
      textCol: String, n: Int, tau: Double): DataFrame = {
    val newSh = MinHashLSH.shingled(newDocs, idCol, textCol, n)
    val newBands = MinHashLSH.bands(MinHashLSH.signatures(newSh))
      .withColumnsRenamed(Map("doc_id" -> "new_id", "band_hash" -> "new_hash"))
    val cand = newBands.join(index.bands,
        newBands("band_id") === index.bands("band_id") &&
          col("new_hash") === col("band_hash"))
      .select(col("new_id"), col("doc_id").as("seen_id"))
      .distinct()
    MinHashLSH.verifyJaccard(cand
        .join(newSh.select(col("doc_id").as("new_id"),
          col("shingles").as("sh_n")), "new_id")
        .join(index.shingles.select(col("doc_id").as("seen_id"),
          col("shingles").as("sh_s")), "seen_id"),
        "sh_n", "sh_s", tau)
      .select(col("new_id"), col("seen_id"), col("jaccard"))
  }
}
