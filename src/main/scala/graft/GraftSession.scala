package graft

import org.apache.spark.sql.SparkSession

/** Session factory with graft's recommended configuration.
  *
  * Local runs: `local[32]` / 32 shuffle partitions to match the dev
  * machine. On a cluster, pass the real master and size
  * `spark.sql.shuffle.partitions` ≈ 2-3× total executor cores (and rely
  * on AQE coalescing to shrink small stages back down); nothing in the
  * library hardcodes a partition count.
  *
  * The AQE block is the 100 TB posture: runtime re-planning, automatic
  * coalescing of over-partitioned shuffles, and skew-join splitting for
  * the hot keys every real corpus has. UTC session time zone keeps
  * event-time semantics engine-independent (and oracle-comparable).
  *
  * `file://` goes through graft's own local file system
  * ([[graft.util.LocalFs]], installed by [[LocalFsConf]]). Without
  * Hadoop's native library the stock one forks a `chmod` for every
  * file, `.crc` sidecar and directory it writes, an `ls -ld` for every
  * status whose permissions are read, and a `readlink` per file of a
  * streaming checkpoint commit; graft's does the same in-process. The
  * rest is the stock code: `.crc` checksums are written and verified
  * on read as before, the on-disk layout and every output byte are the
  * same, and the permission bits are the ones the stock `chmod` sets
  * (umask included).
  */
object GraftSession {

  /** Hadoop settings that route `file://` through [[graft.util.LocalFs]],
    * for both the `FileSystem` and the `FileContext` API. Hadoop caches
    * one `FileSystem` per scheme and user, not per configuration, so
    * they take effect only if no stock `file://` instance was cached
    * before the session was built; [[create]] warns when one was.
    */
  val LocalFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.util.LocalFs.Checked].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.util.LocalFs.Context].getName)

  def builder(master: String = s"local[$defaultCpus]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", defaultCpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // some events.parquet generations carry TIMESTAMP(NANOS); set at
      // build time so no read path has to flip session conf mid-flight
      // (Tables.events still sets it defensively for sessions built
      // elsewhere; a no-op for micros/millis parquet)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(LocalFsConf)

  /** Core count for local mode: SPARK_GRAFT_CPUS env, else 32 (the
    * driver contract's `local[32]`).
    */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Build the session and register graft's native functions for SQL
    * text (graft's Scala helpers need no registration).
    */
  def create(master: String = s"local[$defaultCpus]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    graft.functions.GraftFunctions.register(spark)
    warnIfStockLocalFs(spark)
    spark
  }

  /** One WARN line when `file://` does not resolve to graft's file
    * system in this session: a stock instance cached before the session
    * was built wins over [[LocalFsConf]], and every write then forks
    * again. Returns whether it warned.
    */
  def warnIfStockLocalFs(spark: SparkSession): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val stock = !fs.isInstanceOf[graft.util.LocalFs.Checked]
    if (stock) org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"file:// resolves to the cached ${fs.getClass.getName}, not graft's " +
        s"${classOf[graft.util.LocalFs.Checked].getName}: a stock instance was cached " +
        "before this session was built, so local writes fork a chmod per file")
    stock
  }
}
