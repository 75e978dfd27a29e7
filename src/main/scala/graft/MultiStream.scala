package graft

import graft.pipeline.MultiSpec

/** CLI-shaped entry mirroring the reference's invocation surface
  * (HadoopMultipleStreaming.java:27 — all args parsed by the job
  * runner):
  *
  * {{{
  * runMain graft.MultiStream \
  *   -input  /data/docs.parquet  -column text \
  *   -output /out/home \
  *   -multiple "hits|grep spark|NONE" \
  *   -multiple "counts|/bin/cat|/bin/wc" \
  *   -cmdenv NAME=VALUE \
  *   -format parquet
  * }}}
  *
  * `-input` reads parquet when the path contains ".parquet", else text
  * lines (column `value`); `-column` names the text column piped into
  * every branch; each branch writes `<output>/<dirKey>` — the
  * reference's output layout (MultiStreamJobRunner.java:53-59).
  * `-format` names any registered Spark DataSource (parquet default;
  * json/csv/orc/text all work) — the Spark-native stand-in for the
  * reference's pluggable OutputFormat classes (MapStreamJob.java:402),
  * whose realistic uses are exactly these serialization swaps.
  * `-outputformat` accepts the reference's own spellings on top:
  * `TextOutputFormat` (the default class in its usage text) routes to
  * the text writer, `PartitionByKeyField` (the repo's one custom
  * OutputFormat — key-named output directories) routes to a
  * `write.partitionBy("key")` dynamic-partition write, and the
  * cluster-plumbing flags with no local analog (`-dfs -jt
  * -additionalconfspec -mapdebug -reducedebug -verbose -info -debug`)
  * parse-and-ignore so a full reference invocation line runs as-is.
  * Branch writes are submitted concurrently (MultiPipeline.write),
  * where the reference pays one sequential MR job per spec.
  */
object MultiStream {

  def main(args: Array[String]): Unit = {
    var input = ""; var output = ""; var column = ""
    var format = "parquet"; var numReduceTasks = -1
    var inputFormat = ""; var inputTagged = false
    var outputFormat = ""
    val specs = scala.collection.mutable.ListBuffer.empty[String]
    val env = scala.collection.mutable.Map.empty[String, String]
    val jobconf = scala.collection.mutable.Map.empty[String, String]
    val ship = scala.collection.mutable.ListBuffer.empty[String]
    val archives = scala.collection.mutable.ListBuffer.empty[String]
    var partitioner = ""
    var mapper = ""; var reducer = "NONE"; var combiner = ""
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-input" => input = args(i + 1); i += 2
        case "-output" => output = args(i + 1); i += 2
        case "-column" => column = args(i + 1); i += 2
        case "-format" => format = args(i + 1); i += 2
        case "-multiple" => specs += args(i + 1); i += 2
        // the option spelling the reference CODE parses (its README
        // says -multiple, but MapStreamJob.java:267-278 reads
        // getOptionValues("mapred") with SLASH-separated
        // dirKey/mapper/reducer, e.g. "TEST/mapper.py/reducer.py", and
        // MultiStreamJobRunner.java:41 strips -mapred before the
        // reduce jobs). Accepted as an alias: the LAST two fields are
        // the mapper and reducer commands, everything before them the
        // dirKey — slightly more permissive than the reference, whose
        // blind buf(1)/buf(2) silently mis-slices a dirKey containing
        // '/' (and cannot express one at all)
        case "-mapred" =>
          val buf = args(i + 1).split("/")
          if (buf.length < 3)
            sys.error(s"bad -mapred '${args(i + 1)}': want dirKey/mapper/reducer")
          specs += (buf.dropRight(2).mkString("/") +
            "|" + buf(buf.length - 2) + "|" + buf(buf.length - 1))
          i += 2
        case "-numReduceTasks" => numReduceTasks = args(i + 1).toInt; i += 2
        case "-cmdenv" =>
          val Array(k, v) = args(i + 1).split("=", 2)
          env(k) = v; i += 2
        case "-jobconf" | "-D" =>
          val Array(k, v) = args(i + 1).split("=", 2)
          jobconf(k) = v; i += 2
        // the reference's -file/-files (MapStreamJob.java:318): ship a
        // local script with the job; exec'd children reference it by
        // basename (ShippedPipe resolves executor-side)
        case "-file" | "-files" => ship += args(i + 1); i += 2
        // the reference's -archives/-cacheArchive (MapStreamJob.java:
        // 307-311): ship a tar/zip bundle, unpacked executor-side into
        // a directory named after the archive; children address members
        // as <archive>/<member>. Hadoop accepts a comma list. Kept in
        // its own list: a -file-shipped .zip/.jar must stay a flat file
        case "-archives" | "-cacheArchive" =>
          archives ++= args(i + 1).split(",").filter(_.nonEmpty); i += 2
        // the reference's -partitioner (MapStreamJob.java:869): here a
        // SQL expression over `key` deciding the reduce partition of
        // exec'd reducers
        case "-partitioner" => partitioner = args(i + 1); i += 2
        case "-inputformat" | "-inputreader" =>
          inputFormat = args(i + 1); i += 2
        // the reference's -outputformat (MapStreamJob.java:402, usage:
        // "TextOutputFormat(default)|JavaClassName"): the two classes a
        // reference invocation realistically names are TextOutputFormat
        // and the repo's own PartitionByKeyField; any registered Spark
        // DataSource name is also accepted (the serialization swaps the
        // pluggable-OutputFormat mechanism exists for). Resolved after
        // parsing — unknown specs error loudly there
        case "-outputformat" => outputFormat = args(i + 1); i += 2
        // cluster-plumbing options with NO local-Spark analog
        // (MapStreamJob.java:393-422): accepted so a full reference
        // invocation line parses, logged and ignored — there is no DFS /
        // JobTracker / per-task debug script in a single-JVM session
        case f @ ("-dfs" | "-jt" | "-additionalconfspec" | "-mapdebug" |
                  "-reducedebug") =>
          System.err.println(
            s"[multistream] $f ignored: cluster plumbing with no " +
              "local-Spark analog")
          i += 2
        case f @ ("-verbose" | "-info" | "-debug") =>
          System.err.println(s"[multistream] $f ignored (always-on WARN log)")
          i += 1
        // -cacheFile "uri#link": the DFS-side sibling of -file; locally
        // the path part is shipped like -file (the #link alias is the
        // basename here — ShippedPipe resolves children by basename)
        case "-cacheFile" =>
          ship += args(i + 1).split("#").head; i += 2
        // the reference's -inputtagged bool flag (MapStreamJob.java:431;
        // declared for its mappers' multi-input runs): each record is
        // prefixed with its source file, so a child script can tell
        // which input a line came from — Spark-native tag source is
        // input_file_name(), evaluated at the scan before any fan-out
        case "-inputtagged" => inputTagged = true; i += 1
        // the classic single-pipeline form (no -multiple): the base
        // Hadoop Streaming surface the reference extends
        case "-mapper" => mapper = args(i + 1); i += 2
        case "-reducer" => reducer = args(i + 1); i += 2
        case "-combiner" => combiner = args(i + 1); i += 2
        case other =>
          sys.error(s"unknown option '$other' (want -input -output " +
            "-column -format -multiple -mapred -cmdenv -numReduceTasks " +
            "-jobconf/-D -file/-files -archives/-cacheArchive -cacheFile " +
            "-partitioner -inputformat -outputformat -inputtagged; " +
            "accepted-and-ignored cluster flags: -dfs -jt " +
            "-additionalconfspec -mapdebug -reducedebug -verbose -info " +
            "-debug)")
      }
    }
    require(input.nonEmpty, "-input is required")
    require(output.nonEmpty, "-output is required")
    require(specs.nonEmpty || mapper.nonEmpty,
      "need -multiple spec(s) or the classic -mapper [-combiner] [-reducer] form")
    require(specs.isEmpty || mapper.isEmpty,
      "-multiple and -mapper are mutually exclusive")
    require(specs.isEmpty || (reducer == "NONE" && combiner.isEmpty),
      "-reducer/-combiner do not apply with -multiple: each -multiple " +
        "spec names its own reducer (dir|mapper|reducer)")
    require(combiner.isEmpty || (reducer.nonEmpty && reducer != "NONE"),
      "-combiner requires a -reducer (map-side combining feeds a reduce)")

    // only stop a session this main created: under tests (or a notebook
    // calling main directly) getOrCreate returns the caller's session
    val hadActive = org.apache.spark.sql.SparkSession.getActiveSession.isDefined
    val spark = GraftSession.create()
    try {
      // the reference's -numReduceTasks: Spark's closest knob is the
      // shuffle partition count (AQE coalescing still refines it)
      if (numReduceTasks > 0)
        spark.conf.set("spark.sql.shuffle.partitions", numReduceTasks)
      // -jobconf/-D key=value → session conf, the same passthrough the
      // reference gives its JobConf
      jobconf.foreach { case (k, v) => spark.conf.set(k, v) }
      // -inputformat (MapStreamJob.java:298): route through the legacy
      // readers; default preserves the parquet-or-text autodetect
      val df = inputFormat match {
        case "" =>
          if (input.contains(".parquet")) spark.read.parquet(input)
          else spark.read.text(input)
        case "parquet" => spark.read.parquet(input)
        case "text" => graft.sources.Readers.text(spark, input)
        case "kv" => graft.sources.Readers.kvText(spark, input)
        case "seqfile" => graft.sources.Readers.sequenceText(spark, input)
        case xml if xml.startsWith("xml,") =>
          // -inputformat "xml,begin=<rec>,end=</rec>" (the reference's
          // -inputreader StreamXmlRecordReader,begin=…,end=… shape).
          // Parsed positionally on the LAST ",end=" so commas inside the
          // begin tag survive
          val body = xml.drop(4)
          val sep = body.lastIndexOf(",end=")
          if (!body.startsWith("begin=") || sep < 6)
            sys.error(s"bad -inputformat '$xml': want xml,begin=<tag>,end=</tag>")
          graft.sources.Readers.xmlRecords(spark, input,
            body.substring("begin=".length, sep),
            body.substring(sep + ",end=".length))
        case other => sys.error(s"unknown -inputformat '$other' " +
          "(want parquet|text|kv|seqfile|xml,begin=…,end=…)")
      }
      // default piped column: for the 2-column legacy readers (kv,
      // seqfile) Hadoop Streaming feeds mappers "key\tvalue" lines
      // (KeyValueTextInputFormat contract), so defaulting to the first
      // column alone would silently drop every value — synthesize the
      // tab-joined line instead; -column still overrides
      val (lineDf, c) =
        if (column.nonEmpty) (df, column)
        else if (inputFormat == "kv" || inputFormat == "seqfile")
          (df.withColumn("line", graft.pipeline.Pipes.joinFields("\t",
            Seq(df("k"), df("v")))), "line")
        else (df, df.columns.head)
      // -inputtagged: prefix each record with its source file so child
      // scripts can branch on provenance (the input_tagged query is the
      // native-pipeline twin of the same shape). A NULL record is an
      // empty field, so the tag/record tab is always there
      val taggedDf =
        if (!inputTagged) lineDf
        else lineDf.withColumn(c, graft.pipeline.Pipes.joinFields("\t",
          Seq(org.apache.spark.sql.functions.input_file_name(), lineDf(c))))
      val partKey =
        if (partitioner.isEmpty) None
        else Some(org.apache.spark.sql.functions.expr(partitioner))
      // the reference's -numReduceTasks pins exec'd reducers' partition
      // count exactly (Hadoop contract: reducer count = task count);
      // native stages take it as the shuffle-partition hint set above
      val nRed = if (numReduceTasks > 0) Some(numReduceTasks) else None
      // -outputformat resolution: TextOutputFormat → the text writer
      // (multi-column results tab-fold first, the key\tvalue contract);
      // PartitionByKeyField → key-per-directory dynamic-partition write
      // (MultiPipeline.writeBranch documents the exact analog); a Spark
      // DataSource name → that format. Unknown JavaClassNames fail LOUDLY
      // — silently writing the default layout under a custom
      // OutputFormat's name would corrupt a ported pipeline's contract
      val (outFmt, partByKey) = outputFormat match {
        case "" => (format, false)
        case "TextOutputFormat" |
             "org.apache.hadoop.mapred.TextOutputFormat" => ("text", false)
        case "PartitionByKeyField" | "partition-by-key" |
             "org.apache.hadoop.streaming.PartitionByKeyField" =>
          (format, true)
        case f if Set("parquet", "json", "csv", "orc", "text", "avro")(f) =>
          (f, false)
        case other => sys.error(s"unknown -outputformat '$other' (want " +
          "TextOutputFormat | PartitionByKeyField | a Spark DataSource " +
          "name: parquet|json|csv|orc|text|avro)")
      }
      if (specs.nonEmpty) {
        MultiSpec.pipeline(taggedDf, c, specs.toSeq, env = env.toMap,
            partitionKey = partKey, ship = ship.toSeq, numPartitions = nRed,
            archives = archives.toSeq)
          .write(output, outFmt, partitionByKey = partByKey)
        println(s"[multistream] ${specs.size} branch(es) written under $output")
      } else {
        // classic single-pipeline form: mapper → (combiner) → reducer,
        // result written straight to -output (the Hadoop part-file dir)
        val mapped = MultiSpec.resolve(mapper, c, Map.empty,
          asReducer = false, env.toMap, partKey, ship.toSeq,
          archives = archives.toSeq)(taggedDf)
        val reduced =
          if (reducer.isEmpty || reducer == "NONE") mapped
          else if (combiner.isEmpty)
            MultiSpec.resolve(reducer, c, Map.empty, asReducer = true,
              env.toMap, partKey, ship.toSeq, nRed, archives.toSeq)(mapped)
          else
            // a binary combiner forces the exec path: it runs per input
            // partition BEFORE the shuffle (the -combiner contract)
            graft.pipeline.Pipes.execReduce(c, "\t", 1,
              Seq("/bin/sh", "-c", reducer), env.toMap,
              combiner = Seq("/bin/sh", "-c", combiner),
              partitionKey = partKey,
              numPartitions = nRed,
              ship = ship.toSeq,
              archives = archives.toSeq)(mapped)
        graft.pipeline.MultiPipeline.writeBranch(
          reduced, output, outFmt, partByKey)
        println(s"[multistream] single pipeline written to $output")
      }
    } finally if (!hadActive) spark.stop()
  }
}
