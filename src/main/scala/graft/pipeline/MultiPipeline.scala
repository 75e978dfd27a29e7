package graft.pipeline

import org.apache.spark.sql.DataFrame
import scala.collection.immutable.ListMap

/** The reference's headline feature re-expressed for Spark: one input,
  * N independent pipelines, each with its own output directory.
  *
  * Reference mechanics: MultiPipeMapper.java:137 writes every input
  * record to every registered mapper process in ONE map pass;
  * PrefixOutputCollector.java:18 tags map output with
  * `mapoutput/<dirKey>`; MultiStreamJobRunner.java:44-78 then launches
  * one reduce job per pipeline reading its tagged slice and writing
  * `<outputHome>/<dirKey>`.
  *
  * Spark-first: each branch is a declarative plan over the shared
  * input, and each re-scans the source. With parquet + column pruning
  * each branch reads only its columns — at 100 TB this is usually
  * CHEAPER than materializing full rows, because branches rarely touch
  * the same columns. (Persisting the input before fan-out measured no
  * faster on the fanout benchmark, so there is no such mode.)
  *
  * Unlike the reference there is no tagged union through one shuffle:
  * each branch shuffles only its own (usually already-aggregated) data,
  * so a heavy branch can't skew the others' reducers.
  */
final class MultiPipeline private (
    input: DataFrame,
    branches: ListMap[String, Pipes.Pipe]) {

  /** Register pipeline `name` (the reference's `-multiple "name|map|red"`). */
  def branch(name: String)(f: Pipes.Pipe): MultiPipeline = {
    require(!branches.contains(name), s"duplicate branch '$name'")
    new MultiPipeline(input, branches + (name -> f))
  }

  /** Plan all branches over the shared input. */
  def run(): ListMap[String, DataFrame] =
    branches.map { case (name, f) => name -> f(input) }

  /** Write each branch under `outputHome/<name>` — the reference's
    * output layout (MultiStreamJobRunner.java:66-69).
    *
    * Branch jobs are SUBMITTED CONCURRENTLY (`graft.util.Par.all`, at
    * most four at a time): Spark's scheduler interleaves independent
    * jobs, so a branch waiting on shuffle fetch or output commit
    * doesn't serialize the others — the reference pays one full
    * sequential MR job per pipeline here. Every branch write has
    * finished when `write` returns or throws.
    *
    * `partitionByKey = true` is the `-outputformat PartitionByKeyField`
    * analog (reference PartitionByKeyField.java:10: route each record
    * to a directory named by its KEY, write the VALUE only):
    * `write.partitionBy("key")` gives the same key-per-directory layout
    * with the key elided from the stored rows — and unlike the
    * reference's MultipleTextOutputFormat (one open writer per key per
    * reducer, a known small-file/OOM hazard at high key cardinality)
    * Spark's dynamic-partition write sorts by partition column inside
    * each task, holding ONE writer at a time.
    */
  def write(outputHome: String, format: String = "parquet",
      partitionByKey: Boolean = false): Unit =
    graft.util.Par.all(run().toSeq.map { case (name, df) => () =>
      MultiPipeline.writeBranch(df, s"$outputHome/$name", format, partitionByKey)
    })
}

object MultiPipeline {
  def apply(input: DataFrame): MultiPipeline =
    new MultiPipeline(input, ListMap.empty)

  /** One branch write with the Hadoop-Streaming output conventions:
    *
    *  - `text` format folds a multi-column result to ONE tab-joined
    *    line per row first (TextOutputFormat's key\tvalue contract —
    *    Spark's text source refuses >1 column);
    *  - `partitionByKey` derives the KEY as the first tab field of the
    *    record (the reference splits map output on '\t' the same way),
    *    keeps the remainder as the value, and writes
    *    `key=<k>/part-…` via a dynamic-partition write — HONORING the
    *    requested format: the keyed (key, value) frame writes under
    *    any DataSource format (the text special case exists only
    *    because Spark's text source refuses two columns, so there the
    *    value column alone carries the line).
    */
  private[graft] def writeBranch(df: DataFrame, path: String,
      format: String, partitionByKey: Boolean): Unit = {
    import org.apache.spark.sql.functions._
    if (partitionByKey) {
      val line = if (df.columns.length == 1) col(df.columns.head)
        else concat_ws("\t", df.columns.map(n => col(n).cast("string")): _*)
      val key = substring_index(line, "\t", 1)
      val keyed = df.select(
        key.as("key"),
        // value = line minus "key\t"; a key-only line keeps "" (the
        // reference writes the empty value line the same way)
        when(line.contains("\t"),
          line.substr(length(key) + 2, length(line))).otherwise(lit(""))
          .as("value"))
      keyed.write.mode("overwrite").partitionBy("key")
        .format(format).save(path)
    } else if (format == "text" && df.columns.length > 1) {
      df.select(concat_ws("\t",
          df.columns.map(n => col(n).cast("string")): _*).as("value"))
        .write.mode("overwrite").format("text").save(path)
    } else {
      df.write.mode("overwrite").format(format).save(path)
    }
  }
}
