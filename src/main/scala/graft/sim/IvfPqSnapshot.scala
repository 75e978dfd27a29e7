package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.util.Epochs

/** The mutable [[IvfPqIndex]] — the serving-index face of
  * [[graft.util.Epochs.Store]]: every rewrite materializes a complete
  * `epoch=<N+1>/` artifact (codebooks + centroids + cells) and
  * searches pin one epoch's directories for their whole run. The
  * store's re-append rule adds only the ids the new epoch lacks, so a
  * raced append never leaves a duplicate code row (which could occupy
  * two of a top-k search's slots).
  */
object IvfPqSnapshot extends Epochs.Store(IvfPqIndex) {

  /** Encode and append a new batch's codes into the CURRENT epoch's
    * cells table (frozen-quantizer contract, [[IvfPqIndex.append]]).
    */
  def append(spark: SparkSession, dir: String, newVectors: DataFrame,
      idCol: String, vecCol: String): Unit =
    appendFrom(spark, dir, currentEpoch(spark, dir),
      newVectors, idCol, vecCol)

  /** [[append]] starting from an already-resolved epoch — exposed for
    * the race spec (simulates maintenance publishing between pointer
    * resolution and the append's files landing).
    */
  private[graft] def appendFrom(spark: SparkSession, dir: String,
      startEpoch: Long, newVectors: DataFrame, idCol: String,
      vecCol: String): Unit =
    appendBatch(spark, dir, startEpoch, newVectors, idCol)((batch, at) =>
      IvfPqIndex.append(spark, at, batch, idCol, vecCol))
}
