package graft.util

import org.apache.spark.sql.SparkSession

/** Fit once, reuse while the input table is unchanged: the one memo
  * behind every per-corpus model (IVF centroids, PQ codebooks, PCA
  * basis, bigram LM, BPE merges) and every pristine persisted index
  * the query layer builds once and clones per run.
  *
  * Each instance holds, per table path, one `(fingerprint, value)`.
  * [[apply]] keeps the entry while the table's [[FitOnce.fingerprint]]
  * matches and replaces it through `compute` when it does not, so a
  * table path has at most one live entry and data regenerated in place
  * within one JVM is refitted, never served the old model. A fit must
  * be deterministic over its table (a refit of unchanged files would
  * give the same value); values are KB-scale driver state or a staging
  * path, never cache-manager entries.
  *
  * One instance per call site keeps the values typed, and keeps a fit
  * that reads through another memo clear of a `ConcurrentHashMap`
  * "Recursive update".
  */
final class FitOnce[T <: AnyRef] {
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    String, (FitOnce.Fingerprint, T)]()

  /** The value fitted over `dir`/`table`.parquet, fitting it when the
    * table is new to this memo or its files changed since the last fit.
    */
  def apply(spark: SparkSession, dir: String, table: String)(fit: => T): T = {
    val path = s"$dir/$table.parquet"
    val fp = FitOnce.fingerprint(spark, path)
    memo.compute(path, (_, old) =>
      if (old != null && old._1 == fp) old else (fp, fit))._2
  }
}

object FitOnce {

  /** What a table path holds: file count, total bytes, newest file
    * modification time.
    */
  final case class Fingerprint(files: Long, bytes: Long, mtime: Long)

  /** The staleness fingerprint of `path`, from one recursive listing:
    * a single-file table and a partitioned directory tree are treated
    * alike, and a rewrite inside a partition subdirectory (which leaves
    * the top directory's mtime alone) still changes it. A missing path
    * gets the sentinel (-1, -1, -1).
    */
  def fingerprint(spark: SparkSession, path: String): Fingerprint = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val it = fs.listFiles(p, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
      Fingerprint(files.size, files.map(_.getLen).sum,
        files.map(_.getModificationTime).foldLeft(-1L)(math.max))
    } catch {
      case _: java.io.FileNotFoundException => Fingerprint(-1L, -1L, -1L)
    }
  }
}
