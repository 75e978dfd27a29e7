package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SQLContext,
  SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** The one replay harness behind every streamed face: a feed, given as
  * its ordered slices, runs through a live streaming query one slice at
  * a time. Structured Streaming's prefix-consistency contract (the
  * output over all micro-batches equals the batch query over the whole
  * input) is what lets a face's batch oracle SQL gate the stream
  * operator itself.
  *
  * Driver bound: one slice, never the whole table. A slice is collected
  * only when it is fed, and the MemoryStream drops a batch's rows once
  * the batch commits, so a face bounds its driver memory by how it
  * slices its feed.
  */
private[graft] object Replay {

  /** Start `query` over a fresh MemoryStream, then for each slice in
    * order: collect it, add it, and process all available input. The
    * query is always stopped. Returns each slice's row count.
    */
  def feed[T: Encoder](spark: SparkSession, slices: Seq[Dataset[T]])(
      query: Dataset[T] => StreamingQuery): Seq[Int] = {
    implicit val ctx: SQLContext = spark.sqlContext
    val ms = MemoryStream[T]
    val q = query(ms.toDS())
    try slices.map { slice =>
      val rows = slice.collect()
      ms.addData(rows.toSeq)
      q.processAllAvailable()
      rows.length
    } finally q.stop()
  }

  /** [[feed]] `slices` through the stream operator `op`, run in `mode`,
    * and return every row it emitted with the `batch_id` of the
    * micro-batch that emitted it. Each micro-batch's output is written
    * to its own `batch_id=<id>` staging directory (overwrite, so a
    * retried batch replaces its rows), which keeps the output off the
    * driver too. An Update-mode operator re-emits each key its batch
    * touched: the key's row from the highest batch id is its current
    * value.
    */
  def emitted[T: Encoder, O](spark: SparkSession, slices: Seq[Dataset[T]],
      mode: OutputMode)(op: Dataset[T] => Dataset[O]): DataFrame = {
    val out = graft.util.Staging.dir(spark, "replay")
    val sink: (DataFrame, Long) => Unit = (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
    feed(spark, slices) { ds =>
      op(ds).toDF().writeStream.outputMode(mode).foreachBatch(sink).start()
    }
    spark.read.parquet(out)
      .withColumn("batch_id", col("batch_id").cast("long"))
  }
}
