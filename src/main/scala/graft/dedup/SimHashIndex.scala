package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent SimHash block index — [[MinHashIndex]]'s incremental
  * index-once/probe-many story applied to the 64-bit fingerprint path
  * (and, since the block pigeonhole is a property of any 64-bit code,
  * to image pHashes from [[graft.multimodal.PHash]] via [[buildCodes]]).
  *
  * The index is ONE narrow table (doc_id, sim, block_id, block_val):
  * each doc's fingerprint exploded into its 4 pigeonhole blocks,
  * persisted partitioned by block_id so a probe's per-block equi-join
  * reads only matching block directories. A probe fingerprints the new
  * batch map-side, joins on (block_id, block_val), and verifies with
  * one xor+popcount — no shingle table needed at all (the verify input
  * IS the 8-byte code), which makes this the cheapest of the
  * incremental indexes: 4 rows × ~24 B per indexed doc.
  *
  * Same completeness bound as [[SimHash.nearDuplicates]]: 4 blocks are
  * exhaustive for Hamming ≤ 3.
  */
object SimHashIndex extends graft.util.Epochs.Layout {

  final case class Index(blocks: DataFrame)

  private def blocksOf(fp: DataFrame): DataFrame = {
    val blockArr = array((0 until SimHash.Blocks).map { b =>
      shiftright(col("sim"), b * SimHash.BitsPerBlock).bitwiseAND(lit(0xFFFFL))
    }: _*)
    fp.select(col("doc_id"), col("sim"),
      posexplode(blockArr).as(Seq("block_id", "block_val")))
  }

  /** Index a corpus's text fingerprints. The block table is pinned
    * (lazy localCheckpoint) so probes don't re-tokenize the old corpus
    * (the MinHashIndex.build rationale).
    */
  def build(docs: DataFrame, idCol: String, textCol: String): Index = {
    // corpus-scale by contract — floor the scan parallelism before
    // the tokenize+simhash derivation (SimHash.fingerprints' note)
    val bl = blocksOf(SimHash.fingerprints(
      graft.util.Fanout.ensure(docs), idCol, textCol))
    Index(bl.localCheckpoint(false))
  }

  /** Index ANY (doc_id, sim) 64-bit code table — pHashes, pre-computed
    * simhashes, sign-code words — pinned as [[build]] pins.
    */
  def buildCodes(codes: DataFrame): Index =
    Index(blocksOf(codes.select(col("doc_id"), col("sim")))
      .localCheckpoint(false))

  /** Persist partitioned by block_id (probe joins per block). The
    * write RANGE-partitions on (block_id, block_val) first — each
    * write task holds a contiguous slice of ~one block, so the
    * dynamic-partition write lands ~1 file per task instead of
    * tasks × Blocks near-empty ones, and stays parallel at corpus
    * scale (MinHashIndex.save's clustering note).
    */
  def save(index: Index, dir: String): Unit =
    index.blocks.repartitionByRange(col("block_id"), col("block_val"))
      .write.mode("overwrite").partitionBy("block_id")
      .parquet(s"$dir/blocks")

  def load(spark: SparkSession, dir: String): Index =
    Index(spark.read.parquet(s"$dir/blocks"))

  /** [[SimHashSnapshot]]'s append write body: a new batch's blocks
    * appended into the index saved at `dir` (one epoch dir) — one new
    * file per block directory, nothing old rewritten; the store's
    * compact folds them back.
    */
  private[graft] def append(newDocs: DataFrame, dir: String, idCol: String,
      textCol: String): Unit =
    blocksOf(SimHash.fingerprints(newDocs, idCol, textCol))
      .write.mode("append").partitionBy("block_id").parquet(s"$dir/blocks")

  def ids(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/blocks").select("doc_id")

  /** Rewrite accreted per-append files to one per block directory;
    * probe results are byte-identical.
    */
  def compactRewrite(spark: SparkSession)(cur: String, next: String): Unit =
    relayout(spark.read.parquet(s"$cur/blocks"), next)

  /** Takedown — MinHashIndex's twin for the fingerprint index: the
    * block table minus `ids`, relaid one file per block directory.
    */
  def removeRewrite(spark: SparkSession, ids: Seq[Long])(
      cur: String, next: String): Unit =
    relayout(spark.read.parquet(s"$cur/blocks")
      .filter(!col("doc_id").isInCollection(ids)), next)

  private def relayout(blocks: DataFrame, next: String): Unit =
    blocks.repartition(col("block_id"))
      .write.mode("overwrite").partitionBy("block_id")
      .parquet(s"$next/blocks")

  /** Near-duplicate pairs between a NEW batch and the indexed corpus:
    * (new_id, seen_id, hamming ≤ maxDist). The batch is fingerprinted
    * map-side; candidates ride the (block_id, block_val) equi-join;
    * verification is one xor+popcount on the codes the join already
    * carries — no second table, no text re-read.
    */
  def probe(index: Index, newDocs: DataFrame, idCol: String,
      textCol: String, maxDist: Int): DataFrame = {
    require(maxDist < SimHash.Blocks,
      s"4-block LSH incomplete past Hamming ${SimHash.Blocks - 1}")
    val newBl = blocksOf(SimHash.fingerprints(newDocs, idCol, textCol))
      .withColumnsRenamed(Map("doc_id" -> "new_id", "sim" -> "new_sim",
        "block_val" -> "new_val"))
    newBl.join(index.blocks,
        newBl("block_id") === index.blocks("block_id") &&
          col("new_val") === col("block_val"))
      .select(col("new_id"), col("doc_id").as("seen_id"),
        bit_count(col("new_sim").bitwiseXOR(col("sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
