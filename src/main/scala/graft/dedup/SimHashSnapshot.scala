package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.util.Epochs

/** Snapshot-isolated [[SimHashIndex]] — [[SnapshotIndex]]'s guarantees
  * ([[graft.util.Epochs.Store]]) applied to the 64-bit fingerprint
  * index, whose flat [[SimHashIndex.compactSaved]] /
  * [[SimHashIndex.removeSaved]] swap the live `blocks` directory under
  * readers.
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
