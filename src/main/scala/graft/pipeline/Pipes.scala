package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark-first equivalents of the line-pipe executables users run under
  * Hadoop Streaming (the reference pipes records through external
  * processes: MultiPipeMapRed.java writes each record to every child's
  * stdin and parses stdout back into key/value on a field separator).
  *
  * Here a "pipe stage" is `DataFrame => DataFrame` built from codegen'd
  * `functions._` — no process boundary, no row-at-a-time serialization,
  * and Catalyst can fuse consecutive stages into one WholeStageCodegen
  * span (chained executables in the reference cost a full MR job each).
  */
object Pipes {
  type Pipe = DataFrame => DataFrame

  /** `/bin/cat` — identity mapper (reference README's 4th example). */
  def cat: Pipe = identity

  /** `grep pattern` over a text column. */
  def grep(c: String, pattern: String): Pipe = _.filter(col(c).rlike(pattern))

  /** `grep -v`. */
  def grepV(c: String, pattern: String): Pipe = _.filter(!col(c).rlike(pattern))

  /** `cut -d sep -f fields` — 1-based field indexes, like cut(1).
    * Emits one column per requested field, named `f<i>`.
    */
  def cut(c: String, sep: String, fields: Seq[Int]): Pipe = { df =>
    val parts = split(col(c), java.util.regex.Pattern.quote(sep))
    df.select(fields.map(i => parts.getItem(i - 1).as(s"f$i")): _*)
  }

  /** `sed s/…/…/g` — regex replace over a column. */
  def sed(c: String, pattern: String, replacement: String): Pipe =
    _.withColumn(c, regexp_replace(col(c), pattern, replacement))

  /** `tr set1 set2` — per-character translation (the non-regex cousin
    * of sed; both engines ship `translate` natively).
    */
  def tr(c: String, from: String, to: String): Pipe =
    _.withColumn(c, translate(col(c), from, to))

  /** `/bin/wc` — lines, whitespace-delimited words, chars of a text
    * column. Single partial-aggregatable pass; at 100 TB this is a
    * map-side-combined global agg, not a driver loop.
    */
  def wc(c: String): Pipe = _.agg(
    count(lit(1)).as("lines"),
    sum(size(regexp_extract_all(col(c), lit("\\S+"), lit(0)))).as("words"),
    sum(length(col(c))).as("chars"))

  /** Canonical streaming wordcount: tokenize, explode, count. */
  def wordcount(c: String): Pipe = { df =>
    df.select(explode(split(lower(col(c)), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Key extraction per `stream.num.map.output.key.fields` /
    * `stream.map.output.field.separator` (MultiPipeMapper.java:118-125):
    * key = first `numKeyFields` fields of the line, value = the rest.
    * The reference shuffles on this key (KeyFieldBasedPartitioner);
    * downstream groupBy/repartition on `key` is the Spark equivalent.
    */
  def keyBy(c: String, sep: String, numKeyFields: Int): Pipe = { df =>
    val q = java.util.regex.Pattern.quote(sep)
    val parts = split(col(c), q)
    df.withColumn("key",
        concat_ws(sep, (1 to numKeyFields).map(i => parts.getItem(i - 1)): _*))
      .withColumn("value",
        // everything after the first numKeyFields fields
        array_join(
          slice(parts, lit(numKeyFields + 1),
            greatest(size(parts) - numKeyFields, lit(0))), sep))
  }

  /** Build a delimited "line" from columns — the inverse bridge: turns a
    * structured frame into the text-line world the reference lives in.
    */
  def toLine(sep: String, cols: Seq[String]): Pipe = { df =>
    df.select(joinFields(sep, cols.map(col)).as("line"))
  }

  /** The one line builder behind every tab line graft writes: each
    * column as a string field, a NULL as an empty field, so the fields
    * after it keep their positions (the reference's line protocol,
    * MultiPipeMapRed.java). `concat_ws` alone skips a NULL and shifts
    * every later field left.
    */
  private[graft] def joinFields(sep: String, cols: Seq[Column]): Column =
    concat_ws(sep, cols.map(c => coalesce(c.cast("string"), lit(""))): _*)

  /** Chain stages left-to-right — the reference chains MR jobs; here the
    * chain is one Catalyst plan.
    */
  def chain(stages: Pipe*): Pipe = stages.reduceLeft(_ andThen _)

  /** Hadoop Streaming's counter channel (`reporter:counter:group,name,n`
    * lines on a child's stderr, parsed by MultiPipeMapRed), Spark-first:
    * an `observe` stage records aggregate metrics DURING the same pass —
    * a CollectMetrics node in the plan, no second job, no UDF, the
    * surrounding stages stay codegen-fused. Read the values from the
    * Observation after the action:
    *
    * {{{
    * val obs = new org.apache.spark.sql.Observation("stage1")
    * val out = Pipes.chain(Pipes.grep("text", "spark"),
    *   Pipes.counted(obs, count(lit(1)).as("records_out")))(df)
    * out.write...; obs.get("records_out")
    * }}}
    */
  def counted(obs: org.apache.spark.sql.Observation,
      metrics: org.apache.spark.sql.Column*): Pipe = { df =>
    require(metrics.nonEmpty, "counted needs at least one metric column")
    df.observe(obs, metrics.head, metrics.tail: _*)
  }

  /** The external-executable escape hatch: pipe a text column through an
    * arbitrary child process, one process per partition, exactly the
    * reference's record model (MultiPipeMapRed.java:212 holds one child
    * stdin per pipeline; :764 frames records as lines). This is the
    * migration path for a legacy `-mapper ./score.py` that the native
    * stages above can't express.
    *
    * Every other stage in this file beats this one at scale — a child
    * process costs fork/exec per partition, line serialization both
    * ways, and is opaque to Catalyst (no pushdown through it, no
    * codegen fusion). Use it for the binaries you can't rewrite; tag
    * ids into the line (`toLine`) and parse them back out (`cut`) to
    * keep joinability.
    *
    * `env` is the `-cmdenv NAME=VALUE` surface (MultiPipeMapRed.java:203
    * addEnvironment): vars are set in each child's environment.
    *
    * `ship` is the `-file` surface (MapStreamJob.java:282-287
    * packageFiles_): each local path is distributed to every executor
    * (`SparkContext.addFile`), and a command token EQUAL to a shipped
    * file's basename resolves to the executor-local copy at task time —
    * the reference rewrites the command to the basename and relies on
    * the unjarred task working dir the same way (MapStreamJob.java:232).
    * A mapper script that only exists on the submitting machine thus
    * runs unchanged on a 1000-executor cluster:
    * `exec("line", Seq("score.py"), ship = Seq("/home/me/score.py"))`.
    *
    * `archives` is the `-archives`/`-cacheArchive` surface
    * (MapStreamJob.java:307-311): each local tar/zip is distributed via
    * `SparkContext.addArchive` (unpacked executor-side into a directory
    * named after the archive — Spark ≥ 3.1) and addressed in commands
    * as `<archive>/<member>`. The two lists are deliberately separate:
    * a `-file`-shipped `.zip`/`.jar` stays a FLAT file (a child reading
    * `model.zip` as bytes, `java -jar tool.jar`), never silently
    * unpacked — only the caller knows which semantics it wants, so the
    * flag travels with the path instead of being inferred from the
    * extension.
    *
    * The child must exit 0: a nonzero exit fails the task.
    * Tools with grep-style "no match" exit codes need a
    * `sh -c '... || true'` wrapper.
    *
    * Output: one string column named like the input — exec stages chain
    * with each other and with every native stage.
    */
  def exec(c: String, command: Seq[String],
      env: Map[String, String] = Map.empty,
      ship: Seq[String] = Nil,
      archives: Seq[String] = Nil): Pipe = { df =>
    linesToDf(df, c, df.select(col(c).cast("string")))(
      command, env, ship, archives)
  }

  /** The external REDUCER contract, exactly as Hadoop Streaming frames
    * it: records are partitioned by key (first `numKeyFields`
    * `sep`-separated fields) and each partition is key-sorted before
    * the child sees it, so one child process receives every record of
    * each of its keys, contiguously — the child can aggregate by
    * watching the key change between lines, the way every streaming
    * reducer script is written. One shuffle, then one child per
    * partition; key groups never straddle children.
    *
    * `combiner` is the `-combiner` surface (MapStreamJob.java:779-784
    * comCmd_; the reference only accepts a Java class, so a migrating
    * exec pipeline LOST its combiner — here it runs as a child binary
    * with the same contract as the reducer, per input partition, BEFORE
    * the shuffle): each pre-shuffle partition is key-sorted locally (no
    * exchange — the map-side spill sort), piped through the combiner,
    * and the combiner's output lines are re-keyed for the shuffle. At
    * 100 TB this is the difference between shuffling every mapper
    * output line and shuffling one line per (partition, key).
    *
    * `partitionKey` is the `-partitioner` surface (MapStreamJob.java:
    * 863-871 partitionerSpec_, default KeyFieldBasedPartitioner /
    * PartitionByKeyField.java): any Column over the keyed frame
    * (`key`, `value`, and the line column) decides which reduce
    * partition a record lands in. It must be a pure function of `key`
    * — otherwise one key's records straddle children and the reducer
    * contract breaks (same rule a Hadoop partitioner lives under).
    *
    * `numPartitions` is the `-numReduceTasks` surface (MapStreamJob
    * .java:873-876): left None, AQE sizes (and may coalesce) the
    * reduce side — the right default; set it when the child count
    * itself is the contract (e.g. one output file per reducer).
    */
  def execReduce(c: String, sep: String, numKeyFields: Int,
      command: Seq[String], env: Map[String, String] = Map.empty,
      combiner: Seq[String] = Nil,
      partitionKey: Option[Column] = None,
      numPartitions: Option[Int] = None,
      ship: Seq[String] = Nil,
      archives: Seq[String] = Nil): Pipe = { df =>
    val keyed = keyBy(c, sep, numKeyFields)(df)
    val preShuffle =
      if (combiner.isEmpty) keyed
      else keyBy(c, sep, numKeyFields)(linesToDf(df, c,
        keyed.sortWithinPartitions(col("key")).select(col(c).cast("string")))(
        combiner, env, ship, archives))
    val part = partitionKey.getOrElse(col("key"))
    val shuffled = numPartitions match {
      case Some(n) => preShuffle.repartition(n, part)
      case None => preShuffle.repartition(part)
    }
    val lines = shuffled
      .sortWithinPartitions(col("key"))
      .select(col(c).cast("string"))
    linesToDf(df, c, lines)(command, env, ship, archives)
  }

  private def linesToDf(src: DataFrame, c: String, lines: DataFrame)(
      command: Seq[String], env: Map[String, String],
      ship: Seq[String] = Nil, archives: Seq[String] = Nil): DataFrame = {
    val sc = src.sparkSession.sparkContext
    ship.foreach(sc.addFile(_))
    archives.foreach(sc.addArchive(_))
    // a NULL record would reach the child as the literal string "null"
    // (PrintWriter.println(null: String) semantics); Hadoop's line world
    // has no nulls, so feed the empty line instead — the same semantic
    // kvText gives tab-less lines (PipeSpec pins it)
    val safe = lines.select(
      coalesce(col(lines.columns.head), lit("")).as(lines.columns.head))
    // always ShippedPipe.run, even with nothing shipped: RDD.pipe reads
    // and writes the child with the PLATFORM default charset, which
    // mangles multibyte UTF-8 under a non-UTF-8 JVM default; the
    // streaming contract is UTF-8 bytes (PipeSpec pins the round-trip)
    val piped = ShippedPipe.pipe(safe.rdd.map(_.getString(0)), command, env,
      ship.map(p => new java.io.File(p).getName),
      archives.map(p => new java.io.File(p).getName))
    src.sparkSession.createDataFrame(
      piped.map(org.apache.spark.sql.Row(_)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          c, org.apache.spark.sql.types.StringType, nullable = false))))
  }
}
