package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.text.TextOps

/** 64-bit SimHash near-duplicate detection with Hamming-ball LSH.
  *
  * SimHash of a doc: hash every token occurrence to 64 bits; for each bit
  * position sum +1/-1 over tokens by whether the bit is set; the sign of
  * each sum is that bit of the fingerprint. Token-permuted copies get
  * IDENTICAL simhashes; small edits flip few bits.
  *
  * Implementation is a single per-row expression chain (no explode, no
  * shuffle to build fingerprints): fold token hashes once per bit via
  * higher-order `aggregate`. 64 folds/row is fine — it's all codegen, and
  * rows are independent (perfectly parallel at 100 TB).
  *
  * Candidate search: pigeonhole — split 64 bits into 4 blocks of 16; any
  * pair within Hamming distance 3 shares ≥1 exact block. Self-join on
  * (block_id, block_value), then verify `bit_count(xor) <= d`. At scale
  * the block join can skew if one block value is ubiquitous (e.g. a
  * boilerplate-heavy corpus) — AQE skew-join or a count-based block
  * blacklist handles that.
  */
object SimHash {
  val Bits = 64
  val Blocks = 4
  val BitsPerBlock: Int = Bits / Blocks

  /** 64-bit simhash of a token array — delegates to the native
    * `SimHash64` codegen expression (one pass over the tokens; the
    * pure-`functions._` alternative needs 64 interpreted folds).
    */
  def simhash(toks: Column): Column =
    ColumnBridge.column(graft.functions.SimHash64(ColumnBridge.expression(toks)))

  /** (id, simhash) for non-empty docs. */
  /** Fan-out placement: corpus-scale callers ([[nearDuplicates]],
    * SimHashIndex.build) floor the scan parallelism THEMSELVES —
    * fingerprints is also the per-batch gateway of the probe/append
    * loops, where fanning every KB-scale batch costs plan+exchange
    * overhead for no parallelism win (the MinHashLSH.shingled note).
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), simhash(col("toks")).as("sim"))
  }

  /** Pairs (id_a < id_b) with Hamming distance ≤ maxDist. Pigeonhole over
    * 4 blocks is complete only for maxDist ≤ 3 (d flipped bits can touch
    * at most d blocks, so d < 4 leaves one block intact).
    */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int): DataFrame =
    // corpus-scale self-dedup: floor the scan parallelism before the
    // tokenize+simhash derivation (fingerprints' placement note)
    pairsOf(fingerprints(graft.util.Fanout.ensure(docs), idCol, textCol),
      maxDist)

  /** The block-LSH pair join over ANY (doc_id, sim) 64-bit fingerprint
    * table — shared by text simhash and image pHash ([[graft.multimodal.PHash]]):
    * the pigeonhole is a property of the 64-bit code, not of how it
    * was computed.
    */
  def pairsOf(fp: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist < Blocks, s"4-block LSH incomplete past Hamming ${Blocks - 1}")
    val blocks = array((0 until Blocks).map { b =>
      shiftright(col("sim"), b * BitsPerBlock).bitwiseAND(lit(0xFFFFL))
    }: _*)
    val keyed = fp.select(col("doc_id"), col("sim"),
      posexplode(blocks).as(Seq("block_id", "block_val")))
    val a = keyed.as("a")
    val b = keyed.as("b")
    a.join(b,
        col("a.block_id") === col("b.block_id") &&
          col("a.block_val") === col("b.block_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
