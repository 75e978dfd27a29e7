package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loader for the driver-generated parquet tables (TESTDATA.md).
  *
  * One parquet file per table under `dir`. All reads go through here so
  * every operator benefits from the same source: parquet with predicate
  * pushdown + column pruning (verify via `.explain` → `PushedFilters`,
  * `ReadSchema`). At cluster scale the same call reads a partitioned
  * directory tree; nothing here assumes single-file inputs.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = Tables.resolved(spark, dir, name)

  def region: DataFrame    = table("region")
  def nation: DataFrame    = table("nation")
  def customer: DataFrame  = table("customer")
  def supplier: DataFrame  = table("supplier")
  def part: DataFrame      = table("part")
  def orders: DataFrame    = table("orders")
  def lineitem: DataFrame  = table("lineitem")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some data
    * generations and TIMESTAMP(MICROS) in others, so the loader is
    * schema-adaptive: read first, then normalize based on what actually
    * surfaced. Every downstream consumer sees one canonical shape —
    * `ts: TIMESTAMP` (session-tz, set to UTC by [[graft.GraftSession]])
    * at microsecond precision.
    *
    *  - NANOS: Spark's converter rejects nanos outright, so the
    *    `nanosAsLong` legacy conf (set here AND at session build) makes
    *    the column surface as raw LongType nanos; truncate ns→us —
    *    identical to DuckDB's own conversion, so oracle parity holds.
    *  - MICROS without tz annotation: surfaces as TIMESTAMP_NTZ; cast
    *    to session-tz TIMESTAMP (a wall-clock identity under UTC,
    *    matching DuckDB's `epoch()` of a naive timestamp).
    *  - MICROS/MILLIS adjusted-to-UTC: already TIMESTAMP, use as-is.
    *
    * NOTE: the nanos conf is session-global and deliberately left set —
    * a nanos read plan's schema AND its execution both honor it, so
    * restoring it eagerly could break the frame it just enabled. It is
    * a no-op for non-nanos parquet.
    */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeEventTs(table("events"))
  }
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {

  /** Resolved-scan memo, keyed by (session, dir, table): a CATALOG
    * table resolves its schema once against the metastore, but a
    * bare-path `spark.read.parquet` re-lists the path and re-reads a
    * footer for schema inference on EVERY call — pure metadata
    * overhead repeated by all 200+ queries. Memoizing the resolved
    * frame (a logical plan — no data, no results; executions still
    * scan the files) restores catalog behavior for the path layout.
    * The source tables are immutable per run (the driver generates
    * them before any query); session-keyed so a fresh session (fresh
    * FileIndex/conf state) never sees another session's plan.
    *
    * Two staleness guards (the memo must never pin dead or stale
    * state in a long-lived JVM):
    *  - entries of STOPPED sessions are evicted on every lookup, so a
    *    test harness that builds many sessions cannot accumulate their
    *    FileIndex/plan state for the JVM lifetime;
    *  - each entry records the table path's [[FitOnce.fingerprint]]
    *    (file count, total bytes, newest mtime — one recursive listing,
    *    far cheaper than the re-list + footer read it saves) and
    *    re-resolves when the data was regenerated in place, including
    *    a rewrite inside a partition subdirectory.
    *
    * Kept apart from [[FitOnce]]: its values are session-bound plans.
    */
  private val resolvedCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), (FitOnce.Fingerprint, DataFrame)]()

  private def resolved(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    resolvedCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val path = s"$dir/$name.parquet"
    val fp = FitOnce.fingerprint(spark, path)
    resolvedCache.compute((spark, dir, name), (_, old) =>
      if (old != null && old._1 == fp) old else (fp, spark.read.parquet(path)))._2
  }

  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Normalize an events frame's `ts` column to session-tz TIMESTAMP at
    * microsecond precision, whatever physical type the parquet read
    * produced (see [[Tables.events]] for the unit-by-unit contract).
    * Shared by the batch loader and every `readStream` site so batch
    * and streaming can never disagree on the time axis.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) surfaced as raw nanos
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // naive micros: interpret in session tz (UTC)
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df // already session-tz TIMESTAMP
    }
}
