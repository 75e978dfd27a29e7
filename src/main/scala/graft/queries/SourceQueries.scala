package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables

/** Input-format coverage for the reference's `-inputformat` surface
  * (MapStreamJob.java:298 inputFormatSpec_, with TextInputFormat,
  * KeyValueTextInputFormat and the SequenceFile variants imported at
  * :53-57). source_textfile (PipeQueries) covers plain text lines;
  * these cover the key/value-shaped formats by ROUND-TRIP: write the
  * table out in the legacy format, read it back with the legacy
  * semantics, aggregate, and let the DuckDB oracle check the result
  * against the original parquet — proving both directions of the
  * interop.
  */
object SourceQueries {

  /** KeyValueTextInputFormat: key = text before the first tab, value =
    * the rest of the line. The split carries a limit of 2, so tabs
    * inside the value survive — the Hadoop semantic.
    */
  def sourceKv(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Staging.dir(s, "kv_source")
    Tables(s, dir).orders
      .select(concat_ws("\t", col("o_orderstatus"),
        col("o_totalprice").cast("string")).as("value"))
      .write.mode("overwrite").text(out)
    val kv = graft.sources.Readers.kvText(s, out)
    kv.groupBy(col("k"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("v").cast("double")), 2).as("total"))
      .orderBy(col("k"))
  }

  /** Doubles round-trip text exactly (shortest-representation
    * formatting), so summing the re-parsed values matches summing the
    * originals to well past 2 decimals.
    */
  val sourceKvSql: String =
    """SELECT o_orderstatus AS k, count(*) AS n_rows,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY 1
      |ORDER BY k""".stripMargin

  /** SequenceFile (Text, Text) round-trip via the Hadoop-format RDD
    * bridge — the one legacy surface where RDDs are the honest carrier:
    * there is no DataFrame SequenceFile source, and a migrating corpus
    * often sits in SequenceFiles. Write, read with WritableConverters,
    * then hand straight back to the declarative layer.
    */
  def sourceSeqfile(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Staging.dir(s, "seq_source") + "/data"
    Tables(s, dir).orders
      .select(col("o_orderstatus"), col("o_orderkey").cast("string"))
      .rdd.map(r => (r.getString(0), r.getString(1)))
      .saveAsSequenceFile(out)
    graft.sources.Readers.sequenceText(s, out)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("v").cast("long")).as("sum_orderkey"))
      .orderBy(col("k"))
  }

  val sourceSeqfileSql: String =
    """SELECT o_orderstatus AS k, count(*) AS n_rows,
      |  sum(o_orderkey)::BIGINT AS sum_orderkey
      |FROM orders
      |GROUP BY 1
      |ORDER BY k""".stripMargin

  /** `-inputreader StreamXmlRecordReader,begin=…,end=…` — tag-delimited
    * records that SPAN LINES. The Spark-first carrier is Hadoop's own
    * TextInputFormat with `textinputformat.record.delimiter` set to the
    * end tag: the input splits on record boundaries (not newlines),
    * records never straddle splits, and parsing the tag body is one
    * codegen'd regexp per record. Round-trip: documents written as
    * 3-line `<doc id="…">⏎text⏎</doc>` records, read back by
    * delimiter, aggregated against the original parquet.
    */
  def sourceXmlrecord(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Staging.dir(s, "xml_source")
    Tables(s, dir).documents
      .select(concat(lit("<doc id=\""), col("doc_id"), lit("\">\n"),
        col("text"), lit("\n</doc>")).as("value"))
      .write.mode("overwrite").text(out)
    graft.sources.Readers.xmlRecords(s, out, "<doc id=\"", "</doc>")
      .select(
        regexp_extract(col("rec"), "(?s)<doc id=\"([0-9]+)\">", 1)
          .cast("long").as("doc_id"),
        regexp_extract(col("rec"), "(?s)<doc id=\"[0-9]+\">\n(.*)\n$", 1)
          .as("body"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("body"))).as("total_chars"),
        sum(col("doc_id")).as("sum_ids"))
  }

  val sourceXmlrecordSql: String =
    """SELECT count(*) AS n_docs, sum(length(text))::BIGINT AS total_chars,
      |  sum(doc_id)::BIGINT AS sum_ids
      |FROM documents""".stripMargin

  /** Partition pruning end-to-end: orders written partitioned by
    * status, read back with a partition-key filter — the scan must
    * touch ONLY the matching directory (PlanSpec pins the
    * PartitionFilters entry). At 100 TB this is the difference between
    * scanning one partition and scanning the lake; the layout is the
    * same `write.partitionBy` the reference's PartitionByKeyField
    * produces.
    */
  def sourcePartitioned(s: SparkSession, dir: String): DataFrame =
    sourcePartitionedFrom(s, dir, graft.util.Staging.dir(s, "part_source"))

  def sourcePartitionedFrom(s: SparkSession, dir: String, out: String): DataFrame = {
    Tables(s, dir).orders
      .repartition(col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    s.read.parquet(out)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  val sourcePartitionedSql: String =
    """SELECT o_orderpriority, count(*) AS n_rows,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** CSV round-trip with an explicit read schema (header + quoting
    * handled by the source, no string surgery) — the format a
    * migrating user most likely has on disk besides plain text.
    */
  def sourceCsv(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Staging.dir(s, "csv_source")
    Tables(s, dir).nation
      .write.mode("overwrite").option("header", "true").csv(out)
    s.read
      .schema("n_nationkey LONG, n_name STRING, n_regionkey LONG, n_comment STRING")
      .option("header", "true").csv(out)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_name"))
      .orderBy(col("n_regionkey"))
  }

  val sourceCsvSql: String =
    """SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_name
      |FROM nation
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin

  /** Opaque-blob ingestion — how multimodal payloads ENTER the engine:
    * one file per document written EXECUTOR-SIDE through the Hadoop
    * FileSystem API (the cluster-honest path: tasks write to shared
    * storage, no driver round-trip), read back with Spark's
    * `binaryFile` source, identity recovered from the file NAME and
    * integrity proven by md5 over the raw bytes. The oracle states the
    * same (id, byte length, md5) straight off the documents table —
    * DuckDB's md5(VARCHAR) hashes the UTF-8 bytes, exactly what the
    * files contain. At 100 TB this is the `binaryFile` half of the
    * multimodal pipeline (Multimodal.mediaTable consumes the bytes
    * column it produces); the 2 GB-per-file source limit and
    * small-files pressure are the documented reasons production
    * pipelines compact blobs into parquet after ingestion.
    */
  /** Blob-count cap for the registered round-trip: per-file create/
    * close costs ~5 ms on a checksummed FileSystem, so an UNCAPPED
    * round-trip of the 10x corpus is 2 x 25 s of pure file-open
    * overhead in the bench loop — the very small-files failure mode
    * the Scaladoc warns about. 500 files prove the ingestion path at
    * every SF; production ingests blobs it already HAS, it does not
    * write one file per row.
    */
  val BinaryBlobCap = 500

  def sourceBinary(s: SparkSession, dir: String): DataFrame = {
    // staged under the SHARED staging root (not a driver-local /tmp),
    // so the executor-side writes below are visible cluster-wide and
    // the dir is reclaimed at JVM exit (graft.util.Staging)
    val out = graft.util.Staging.dir(s, "binary_source")
    val confS = new org.apache.spark.util.SerializableConfiguration(
      s.sparkContext.hadoopConfiguration)
    // scan-parallelism floor (graft.util.Fanout doc): the per-blob
    // create/write/close loop below otherwise runs on ONE task for a
    // single-row-group input — no-op at scale
    graft.util.Fanout.ensure(
        Tables(s, dir).documents.select(col("doc_id"), col("text"))
          .filter(col("doc_id") < BinaryBlobCap))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        // a PRIVATE FileSystem instance: FileSystem.get returns the
        // JVM-wide cached one, and setWriteChecksum on it would turn
        // off .crc sidecars for every other Hadoop write in the
        // process (parquet commits, streaming checkpoints)
        val fs = org.apache.hadoop.fs.FileSystem.newInstance(
          new java.net.URI(out), confS.value)
        try {
          // no .crc sidecars: they double the per-blob file-create cost
          // and the query proves integrity in-band via md5 anyway
          fs.setWriteChecksum(false)
          it.foreach { r =>
            val p = new org.apache.hadoop.fs.Path(out, s"${r.getLong(0)}.bin")
            val os = fs.create(p, true)
            try os.write(r.getString(1).getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
            finally os.close()
          }
        } finally fs.close()
      }
    // pathGlobFilter on the real dir, not a glob path: a glob makes the
    // analyzer's streaming-sink probe (FileStreamSink.hasMetadata) stat
    // a nonexistent literal path and log a scary-but-benign
    // FileNotFoundException trace on every run
    s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(out)
      .select(
        regexp_extract(col("path"), "(\\d+)\\.bin$", 1).cast("long")
          .as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("md5_hex"))
      .orderBy(col("doc_id"))
  }

  /** Small-file compaction — the 100 TB maintenance op the blob-source
    * doc points at: a fragmented table (64 shard files here, the
    * realistic aftermath of high-parallelism ingestion) is rewritten
    * into ⌈rows∕rowsPerFile⌉ right-sized files with ONE round-robin
    * repartition (plus `maxRecordsPerFile` as the belt-and-braces
    * production knob). The query reports before/after file counts and
    * proves row conservation + readability of the compacted output;
    * at cluster scale the same two lines run per partition of a
    * date-partitioned lake table.
    */
  def sourceCompact(s: SparkSession, dir: String): DataFrame = {
    val frag = graft.util.Staging.dir(s, "compact_in")
    val out = graft.util.Staging.dir(s, "compact_out")
    val docs = Tables(s, dir).documents
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    val rowsPerFile = 2000L
    val n = s.read.parquet(frag).count()
    val nOut = math.max(1L, (n + rowsPerFile - 1) / rowsPerFile).toInt
    s.read.parquet(frag)
      .repartition(nOut)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", rowsPerFile)
      .parquet(out)
    val compacted = s.read.parquet(out)
    compacted.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .select(lit(64L).as("files_before"),
        lit(graft.util.Staging.countFiles(s, out, ".parquet")).as("files_after"),
        col("n_rows"), col("n_docs"), col("total_chars"))
  }

  /** files_before is the fragmentation the query itself creates (64);
    * files_after = ⌈rows∕2000⌉ by construction of the repartition —
    * the oracle derives both from the row count, so the driver gate
    * verifies the compaction arithmetic AND row conservation.
    */
  val sourceCompactSql: String =
    """SELECT 64::BIGINT AS files_before,
      |  greatest(1, (count(*) + 1999) // 2000)::BIGINT AS files_after,
      |  count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
      |  sum(n_chars)::BIGINT AS total_chars
      |FROM documents""".stripMargin

  val sourceBinarySql: String =
    s"""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       |  md5(text) AS md5_hex
       |FROM documents
       |WHERE doc_id < $BinaryBlobCap
       |ORDER BY doc_id""".stripMargin

  /** JSON-lines round-trip with an explicit schema (schema-on-read,
    * no inference job at scale — inference means an extra full scan).
    */
  def sourceJsonl(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Staging.dir(s, "jsonl_source")
    Tables(s, dir).documents.select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").json(out)
    s.read.schema("doc_id LONG, lang STRING, n_chars LONG").json(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  val sourceJsonlSql: String =
    """SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Bucketed co-located join — the storage-side answer to the
    * reference's `-partitioner` (pre-partitioned output consumed by the
    * next job without re-shuffling). Both join sides are written
    * `bucketBy(orderkey) sortBy(orderkey)` into a throwaway catalog
    * table; because bucket counts match and buckets are sorted, the
    * sort-merge join needs NO Exchange and NO Sort — at 100 TB this is
    * the difference between shuffling the fact table on every join and
    * shuffling it once at write time. The `merge` hint keeps Spark from
    * broadcasting the (test-scale-small) side, so the bucket layout is
    * actually exercised; PlanSpec asserts the exchange-free plan.
    */
  def bucketJoin(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val warehouse = graft.util.Staging.dir(s, "bucket_warehouse")
    val orders = t.orders.select(col("o_orderkey"), col("o_orderpriority"))
    val lineitem = t.lineitem.select(col("l_orderkey"), col("l_extendedprice"))
    // bucket count derived from the LARGER side's written size (plan
    // statistics of the projected frame — metadata, no job; the
    // unpruned table would size buckets for columns never written), not
    // a constant: ~256 MB of fact table per bucket, floored at 8. Both
    // sides MUST share the count or the join shuffles; at test scale
    // this resolves to 8, at 100 TB to ~400k-per-100TB — a bucket file
    // per core-day, not a 8-bucket bottleneck.
    val factBytes = lineitem.queryExecution.optimizedPlan.stats.sizeInBytes
    val buckets = (factBytes / (256L << 20)).toLong.max(8L)
      .min(Int.MaxValue.toLong).toInt
    def writeBucketed(df: DataFrame, name: String, key: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS $name")
      df.write.bucketBy(buckets, key).sortBy(key)
        .option("path", s"$warehouse/$name").saveAsTable(name)
    }
    // the two bucketed publishes read disjoint tables and write
    // disjoint outputs — overlap them (guide §2.6 / graft.util.Par):
    // each write's tail waves otherwise leave the cluster idle
    graft.util.Par.both(
      writeBucketed(orders, "graft_bk_orders", "o_orderkey"),
      writeBucketed(lineitem, "graft_bk_lineitem", "l_orderkey"))
    s.table("graft_bk_orders")
      .hint("merge")
      .join(s.table("graft_bk_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val bucketJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  round(sum(l_extendedprice), 2) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** ORC round-trip: the other columnar format the Hadoop world feeds
    * a streaming job from. Same push-down story as parquet (predicate +
    * column pruning reach the ORC reader); schema carried by the file,
    * read back explicitly anyway — schema-on-read, no inference pass.
    */
  def sourceOrc(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Staging.dir(s, "orc_source")
    Tables(s, dir).orders
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").orc(out)
    s.read
      .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")
      .orc(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  val sourceOrcSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  round(sum(o_totalprice), 2) AS total_price
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Avro container round-trip WITHOUT the spark-avro module (absent
    * from this classpath): write orders through avro-mapred's
    * `AvroKeyOutputFormat` (map-only, executor-side, shared-FS staging),
    * read back through graft.sources.Readers.avro — writer schema
    * sniffed from the container header, `[null, string]` union mapped
    * to a nullable column and exercised by nulling every third row's
    * priority — then aggregate against the original parquet. Proves
    * schema inference, Utf8 → String, null-union handling, and both
    * directions of the container interop.
    */
  def sourceAvro(s: SparkSession, dir: String): DataFrame = {
    import org.apache.avro.generic.GenericRecord
    import org.apache.avro.mapred.AvroKey
    import org.apache.hadoop.io.NullWritable
    val out = graft.util.Staging.dir(s, "avro_source") + "/orders"
    val schemaJson =
      """{"type":"record","name":"order","fields":[
        |{"name":"o_orderkey","type":"long"},
        |{"name":"o_orderstatus","type":"string"},
        |{"name":"o_totalprice","type":"double"},
        |{"name":"o_orderpriority","type":["null","string"],"default":null}
        |]}""".stripMargin
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      new org.apache.hadoop.conf.Configuration(
        s.sparkContext.hadoopConfiguration))
    org.apache.avro.mapreduce.AvroJob.setOutputKeySchema(job,
      new org.apache.avro.Schema.Parser().parse(schemaJson))
    Tables(s, dir).orders
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        when(col("o_orderkey") % 3 === 0, lit(null))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"))
      .rdd.mapPartitions { it =>
        val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
        it.map { r =>
          val rec = new org.apache.avro.generic.GenericData.Record(schema)
          rec.put("o_orderkey", r.getLong(0))
          rec.put("o_orderstatus", r.getString(1))
          rec.put("o_totalprice", r.getDouble(2))
          rec.put("o_orderpriority", if (r.isNullAt(3)) null else r.getString(3))
          (new AvroKey[GenericRecord](rec), NullWritable.get)
        }
      }
      .saveAsNewAPIHadoopFile(out, classOf[AvroKey[GenericRecord]],
        classOf[NullWritable],
        classOf[org.apache.avro.mapreduce.AvroKeyOutputFormat[GenericRecord]],
        job.getConfiguration)
    graft.sources.Readers.avro(s, out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("sum_orderkey"),
        round(sum(col("o_totalprice")), 2).as("total"),
        count(col("o_orderpriority")).as("n_priority"))
      .orderBy(col("o_orderstatus"))
  }

  val sourceAvroSql: String =
    """SELECT o_orderstatus, count(*) AS n_rows,
      |  sum(o_orderkey)::BIGINT AS sum_orderkey,
      |  round(sum(o_totalprice), 2) AS total,
      |  count(CASE WHEN o_orderkey % 3 = 0 THEN NULL
      |             ELSE o_orderpriority END) AS n_priority
      |FROM orders
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Gzip'd legacy text corpus round-trip: documents written as
    * TSV lines with gzip codec (one .gz per output partition), read
    * back through the plain text source — Hadoop decompresses by
    * extension — and aggregated against the original parquet. The
    * scale note IS the operator's lesson: .gz is NOT splittable, one
    * file = one task regardless of file size, so the WRITE side
    * controls parallelism for every future reader (a production
    * corpus keeps .gz files ~100 MB; bzip2 or indexed zstd are the
    * splittable alternatives when single files must be large).
    */
  def sourceGzip(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Staging.dir(s, "gzip_source")
    Tables(s, dir).documents
      .select(concat_ws("\t", col("doc_id"), col("lang"),
        col("n_chars")).as("value"))
      .repartition(4)
      .write.mode("overwrite").option("compression", "gzip").text(out)
    graft.sources.Readers.text(s, out)
      .select(split(col("value"), "\t").as("p"))
      .select(col("p").getItem(0).cast("long").as("doc_id"),
        col("p").getItem(1).as("lang"),
        col("p").getItem(2).cast("long").as("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("lang"))
  }

  val sourceGzipSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  sum(n_chars)::BIGINT AS sum_chars, sum(doc_id)::BIGINT AS sum_ids
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** Late-data backfill via DYNAMIC partition overwrite — the daily
    * production shape: a bad load corrupted some partitions of a
    * published, date-partitioned table, and the fix must replace ONLY
    * those partitions in place. Here the first publish writes every
    * order month but zeroes prices and drops odd order keys in the
    * "bad" months (a partial, corrupt load); the backfill recomputes
    * just those months and writes them with
    * `partitionOverwriteMode=dynamic`, which replaces exactly the
    * partitions present in the incoming frame and leaves the other ~68
    * month directories untouched. The oracle is the clean per-month
    * aggregate straight off orders, so the hash match proves three
    * things at once: the bad partitions were fully replaced (counts —
    * dropped rows restored), correctly replaced (sums — zeroed prices
    * fixed), and nothing else was clobbered (STATIC overwrite mode
    * would have deleted all 80 partitions and left only the rewritten
    * ones — a row-count mismatch).
    *
    * Scale (100 TB): the write cost is proportional to the CORRECTED
    * data only, never the table; readers keep partition-pruning the
    * same layout; no table-wide lock or copy. The mode rides the
    * WRITER option (not session conf), so concurrent queries in the
    * same session are unaffected.
    */
  def sourceBackfill(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Staging.dir(s, "backfill")
    val orders = Tables(s, dir).orders
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
    val isBad = month(col("o_orderdate")).isin(3, 8)
    // publish v1: bad months arrive truncated (odd keys missing) with
    // zeroed prices; good months arrive clean. ONE filtered pass (row
    // kept unless it is an odd key of a bad month; price zeroed where
    // bad) — the union-of-two-filters spelling this replaces scanned
    // orders twice for the same rows. NULL-explicit: both union arms
    // dropped a NULL-date row, and `!isBad || even` alone would keep
    // an even-key one (NULL OR true is true)
    orders.filter(isBad.isNotNull && (!isBad || col("o_orderkey") % 2 === 0))
      .withColumn("o_totalprice",
        when(isBad, lit(0.0)).otherwise(col("o_totalprice")))
      .repartition(col("o_month"))
      .write.mode("overwrite").partitionBy("o_month").parquet(out)
    // backfill: recompute ONLY the bad months, dynamic overwrite
    orders.filter(isBad)
      .repartition(col("o_month"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_month").parquet(out)
    s.read.parquet(out)
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy(col("o_month"))
  }

  val sourceBackfillSql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
      |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS total,
      |  sum(o_orderkey)::BIGINT AS sum_keys
      |FROM orders
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Schema evolution under `mergeSchema` — the mid-corpus column add
    * every long-lived lake hits: batch 1 (even order keys) was written
    * before `o_orderpriority` existed; batch 2 (odd keys) carries it.
    * A plain parquet read takes ONE footer's schema — whichever file
    * gets sampled — so the old column set can silently win and the new
    * column vanish; `mergeSchema=true` unions the footers and
    * null-fills the pre-evolution rows, which is exactly what the
    * aggregate sees (`coalesce` folds them into a 'pre-evolution'
    * bucket). The oracle replays the same split + null-fill from the
    * original orders table.
    *
    * Scale (100 TB): mergeSchema reads EVERY footer (a driver-side
    * file-listing-scale cost, the reason it is off by default) — at
    * production scale you pin the merged schema once in a catalog
    * (`.schema(...)` on the read) and keep the per-query cost zero;
    * the null-fill semantics this query proves are identical either
    * way.
    */
  def sourceEvolve(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Staging.dir(s, "evolve")
    val orders = Tables(s, dir).orders
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("append").parquet(out)
    orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))
      .write.mode("append").parquet(out)
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy(coalesce(col("o_orderpriority"), lit("(pre-evolution)"))
        .as("priority"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice")), 2).as("total"),
        sum(col("o_orderkey")).as("sum_keys"))
      .orderBy(col("priority"))
  }

  val sourceEvolveSql: String =
    """SELECT coalesce(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END,
      |                '(pre-evolution)') AS priority,
      |  count(*) AS n_rows, round(sum(o_totalprice), 2) AS total,
      |  sum(o_orderkey)::BIGINT AS sum_keys
      |FROM orders
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Manifest-pinned read — the reproducibility primitive every
    * published training set needs: consumers read the EXACT file list
    * the manifest names (`spark.read.parquet(files*)` with `basePath`
    * so the partition column survives), never a directory listing. A
    * directory read re-lists at every run — late-arriving files,
    * half-written compactions, or eventually-consistent object-store
    * listings silently change the dataset between epochs; the manifest
    * freezes it. Here the corpus is sharded by the seeded md5 key (the
    * sample_shard / export_manifest layout), the manifest pins shards
    * {0,5,10,15}, and the oracle replays the shard arithmetic as a
    * WHERE — the hash match proves the pinned file set carries exactly
    * the pinned id population, no more (no stray-directory bleed), no
    * less (no dropped file).
    *
    * Scale (100 TB): planning is O(|manifest|) with ZERO listing RPCs
    * (the object-store listing problem); the FileIndex is built from
    * the given paths directly. The manifest itself is the KB-scale
    * export_manifest artifact.
    */
  def sourceManifest(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Staging.dir(s, "manifest_src")
    val assigned = graft.ops.ShuffleShard.assign(
      Tables(s, dir).documents, "doc_id", 42L, 16)
    graft.ops.ShuffleShard.writeShards(assigned, 16, out)
    val pinned = Seq(0L, 5L, 10L, 15L)
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = pinned.flatMap { sh =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$out/shard=$sh"))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
        .map(_.getPath.toString)
    }.sorted
    s.read.option("basePath", out).parquet(files: _*)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("shard"))
  }

  val sourceManifestSql: String =
    """WITH h AS (
      |  SELECT doc_id, n_chars,
      |    ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT AS k
      |  FROM documents)
      |SELECT k % 16 AS shard, count(*) AS n_docs,
      |  sum(n_chars)::BIGINT AS sum_chars, sum(doc_id)::BIGINT AS sum_ids
      |FROM h
      |WHERE k % 16 IN (0, 5, 10, 15)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Compression-codec round-trip audit — the storage-tuning decision
    * every 100 TB lake makes once and pays for forever: lineitem
    * written under snappy / zstd / gzip / lz4, each read back and
    * aggregated identically. The hash oracle proves ALL FOUR round
    * trips are lossless (one wrong codec config and that codec's row
    * hash-diverges); the relative file sizes — the actual tuning
    * signal: zstd ≈ 30-40% smaller than snappy at similar scan speed,
    * gzip smaller still but slow to write, lz4 fastest — are printed to
    * the Spark UI metrics and measured in SourceSpec rather than the
    * oracle row (file bytes are not a DuckDB-visible quantity). Codec
    * choice changes STORED bytes and SCANNED bytes; it never changes
    * query plans, which is exactly what the identical per-codec
    * aggregate rows demonstrate.
    */
  def sourceCodecs(s: SparkSession, dir: String): DataFrame = {
    val codecs = Seq("snappy", "zstd", "gzip", "lz4")
    // fan the write out (graft.util.Fanout doc): a single-row-group
    // input makes each codec write ONE task, serializing the whole
    // compression benchmark on one core — no-op at scale
    val li = graft.util.Fanout.ensure(Tables(s, dir).lineitem
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")))
    // the four round-trips are independent (disjoint staging dirs) —
    // run them concurrently (graft.util.Par doc); wall-clock becomes
    // the slowest codec instead of the sum of all four
    graft.util.Par.all(codecs.map { c => () =>
      val out = graft.util.Staging.dir(s, s"codec_$c")
      li.write.mode("overwrite").option("compression", c).parquet(out)
      s.read.parquet(out)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_orderkey")).as("sum_keys"),
          round(sum(col("l_extendedprice")), 2).as("total"))
        .select(lit(c).as("codec"), col("n_rows"), col("sum_keys"),
          col("total"))
    }).reduce(_ unionByName _)
      .orderBy(col("codec"))
  }

  val sourceCodecsSql: String =
    """SELECT c.codec, a.n_rows, a.sum_keys, a.total
      |FROM (SELECT unnest(['gzip', 'lz4', 'snappy', 'zstd']) AS codec) c
      |CROSS JOIN (
      |  SELECT count(*) AS n_rows, sum(l_orderkey)::BIGINT AS sum_keys,
      |    round(sum(l_extendedprice), 2) AS total
      |  FROM lineitem) a
      |ORDER BY c.codec""".stripMargin

  /** Corrupt-record quarantine on JSON-lines ingest — the
    * badRecordsPath/dead-letter shape every raw-crawl loader needs: a
    * malformed line must not kill the job OR silently vanish; it routes
    * to a quarantine bucket with enough identity (count, byte mass, a
    * content signature) to chase upstream. The fixture plants
    * deterministic corruption (docs with doc_id % 23 = 7 lose their
    * JSON tail — the torn-write shape) in lines built by to_json on
    * BOTH engines (byte-identical compact rendering, probe-verified:
    * `"`→`\"`, `\`→`\\`), so the DuckDB oracle reconstructs every byte
    * and the hash gates routing, signatures, AND the escaping path —
    * a planted quote-and-backslash source row rides the fixture to
    * prove it end-to-end. Parsing is `from_json` over a
    * text scan with `columnNameOfCorruptRecord` — map-only, no
    * file-source corrupt-column restriction, ONE pass splits clean
    * rows (grouped per source) from quarantine (the `_quarantine`
    * bucket row). The signature is the manifest row_sig arithmetic
    * (60-bit md5 prefix, bit_xor — order-free, partial-aggregatable).
    *
    * At 100 TB: one text scan, one partial-agg exchange at
    * |sources|+1 cardinality. The quarantine WRITE a production
    * pipeline adds is the same filtered branch under multi_fanout.
    */
  def sourceQuarantine(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Staging.dir(s, "quarantine_src")
    // the line is built with to_json on BOTH engines, so quotes and
    // backslashes in source values round-trip instead of tripping the
    // pre-r12 concat-builder guard. Control characters stay loudly
    // guarded: Spark (Jackson) renders \u-escapes with UPPERCASE hex,
    // DuckDB (yyjson) lowercase, so one would surface as a silent
    // oracle hash mismatch — the one shape to_json cannot carry.
    val safeSource = when(col("source").rlike("[\\u0000-\\u001f]"),
        raise_error(concat(lit("source_quarantine: source value carries " +
          "a control character — the engines' \\u escape hex case " +
          "differs: "), col("source"))))
      .otherwise(col("source"))
    val docs = Tables(s, dir).documents
    val base = docs.select(col("doc_id"), safeSource.as("source"),
      col("n_chars").cast("long").as("len"))
    // planted JSON-hostile row (quote + backslash in source) — both
    // engines add the same row, so the escaping path itself is under
    // the hash gate, not just declared safe
    val planted = docs.agg(max(col("doc_id")).as("m"))
      .select((col("m") + 1).as("doc_id"),
        lit("we\"ird\\src").as("source"), lit(11L).as("len"))
    val line = to_json(struct(col("doc_id"), col("source"), col("len")))
    base.unionByName(planted)
      .select(line.as("l"), col("doc_id"))
      .select(when(pmod(col("doc_id"), lit(23L)) === 7,
          expr("substring(l, 1, length(l) - 3)"))
        .otherwise(col("l")).as("value"))
      .write.mode("overwrite").text(out)
    val parsed = s.read.text(out).select(col("value"),
      from_json(col("value"), "doc_id BIGINT, source STRING, len BIGINT, _bad STRING",
        Map("columnNameOfCorruptRecord" -> "_bad")).as("j"))
    // bad = anything that did not parse to a clean typed row —
    // malformed (corrupt column set) or a null struct (the
    // quarantineStream contract; the fixture only produces the former)
    val bad = col("j").isNull || col("j._bad").isNotNull
    parsed.select(
        when(bad, lit("_quarantine")).otherwise(col("j.source"))
          .as("bucket"),
        // quarantine rows report the torn line's BYTE mass (the wire
        // identity); clean rows report their declared len field
        when(bad, octet_length(col("value")).cast("long"))
          .otherwise(col("j.len")).as("len"),
        conv(substring(md5(col("value")), 1, 15), 16, 10).cast("long")
          .as("s"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("len")).as("sum_len"),
        expr("bit_xor(s)").as("sig"))
      .orderBy(col("bucket"))
  }

  val sourceQuarantineSql: String =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT (SELECT max(doc_id) + 1 FROM documents),
      |    'we"ird\src', 11),
      |l AS (
      |  SELECT doc_id, source, n_chars,
      |    to_json(struct_pack(doc_id := doc_id, source := source,
      |      len := n_chars::BIGINT))::VARCHAR AS full_line
      |  FROM d),
      |r AS (
      |  SELECT
      |    CASE WHEN doc_id % 23 = 7 THEN '_quarantine' ELSE source END
      |      AS bucket,
      |    CASE WHEN doc_id % 23 = 7
      |      THEN substr(full_line, 1, length(full_line) - 3)
      |      ELSE full_line END AS line,
      |    n_chars, doc_id
      |  FROM l),
      |r2 AS (
      |  SELECT bucket, line,
      |    (CASE WHEN doc_id % 23 = 7 THEN octet_length(encode(line))
      |      ELSE n_chars END)::BIGINT AS len
      |  FROM r)
      |SELECT bucket, count(*) AS n_rows, sum(len)::BIGINT AS sum_len,
      |  bit_xor(('0x' || substr(md5(line), 1, 15))::BIGINT) AS sig
      |FROM r2 GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_quarantine" -> (sourceQuarantine _),
    "source_codecs" -> (sourceCodecs _),
    "source_manifest" -> (sourceManifest _),
    "source_backfill" -> (sourceBackfill _),
    "source_evolve" -> (sourceEvolve _),
    "source_gzip" -> (sourceGzip _),
    "source_avro" -> (sourceAvro _),
    "source_orc" -> (sourceOrc _),
    "bucket_join" -> (bucketJoin _),
    "source_kv" -> (sourceKv _),
    "source_seqfile" -> (sourceSeqfile _),
    "source_xmlrecord" -> (sourceXmlrecord _),
    "source_partitioned" -> (sourcePartitioned _),
    "source_csv" -> (sourceCsv _),
    "source_binary" -> (sourceBinary _),
    "source_compact" -> (sourceCompact _),
    "source_jsonl" -> (sourceJsonl _))

  val oracleSql: Map[String, String] = Map(
    "source_quarantine" -> sourceQuarantineSql,
    "source_codecs" -> sourceCodecsSql,
    "source_manifest" -> sourceManifestSql,
    "source_backfill" -> sourceBackfillSql,
    "source_evolve" -> sourceEvolveSql,
    "source_gzip" -> sourceGzipSql,
    "source_avro" -> sourceAvroSql,
    "source_orc" -> sourceOrcSql,
    "bucket_join" -> bucketJoinSql,
    "source_kv" -> sourceKvSql,
    "source_seqfile" -> sourceSeqfileSql,
    "source_xmlrecord" -> sourceXmlrecordSql,
    "source_partitioned" -> sourcePartitionedSql,
    "source_csv" -> sourceCsvSql,
    "source_binary" -> sourceBinarySql,
    "source_compact" -> sourceCompactSql,
    "source_jsonl" -> sourceJsonlSql)
}
