package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.util.Epochs

/** The mutable [[MinHashIndex]]: every rewrite (compact, takedown)
  * lands in a fresh `epoch=<N+1>/` tree and becomes current only when
  * complete — the mini-Iceberg pointer-swap pattern at directory
  * granularity — so a reader whose lazy plan listed files before the
  * rewrite keeps reading its own epoch. Pinning, retention, the append
  * loop and the maintenance fence are [[graft.util.Epochs.Store]]'s.
  *
  * Appends are additive and retry-idempotent
  * ([[graft.streaming.Streams.dedupIndexStreamSnapshot]]'s contract).
  */
object SnapshotIndex extends Epochs.Store(MinHashIndex) {

  /** Append admissions into the CURRENT epoch. */
  def append(spark: SparkSession, newDocs: DataFrame, dir: String,
      idCol: String, textCol: String, n: Int): Unit =
    appendFrom(spark, newDocs, dir, currentEpoch(spark, dir),
      idCol, textCol, n)

  /** [[append]] starting from an already-resolved epoch — exposed for
    * the race spec (simulates an epoch published between resolution
    * and append).
    */
  private[graft] def appendFrom(spark: SparkSession, newDocs: DataFrame,
      dir: String, startEpoch: Long, idCol: String, textCol: String,
      n: Int): Unit =
    appendBatch(spark, dir, startEpoch, newDocs, idCol)(
      MinHashIndex.append(_, _, idCol, textCol, n))
}
