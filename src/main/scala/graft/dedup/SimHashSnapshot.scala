package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.util.Epochs

/** The mutable [[SimHashIndex]] — [[SnapshotIndex]]'s guarantees
  * ([[graft.util.Epochs.Store]]) applied to the 64-bit fingerprint
  * index: appends, compaction and takedown all run through the store,
  * and readers pin one epoch's `blocks` directory.
  */
object SimHashSnapshot extends Epochs.Store(SimHashIndex) {

  /** Append a new batch's blocks into the CURRENT epoch. */
  def append(spark: SparkSession, newDocs: DataFrame, dir: String,
      idCol: String, textCol: String): Unit =
    appendFrom(spark, newDocs, dir, currentEpoch(spark, dir),
      idCol, textCol)

  private[graft] def appendFrom(spark: SparkSession, newDocs: DataFrame,
      dir: String, startEpoch: Long, idCol: String,
      textCol: String): Unit =
    appendBatch(spark, dir, startEpoch, newDocs, idCol)(
      SimHashIndex.append(_, _, idCol, textCol))
}
