package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{MultiSpec, Pipes}
import graft.queries.PipeQueries

class MultiSpecSpec extends SparkSpec {

  test("parse accepts dir|mapper|reducer and defaults reducer to NONE") {
    assert(MultiSpec.parse("out1|/bin/cat|/bin/wc") ===
      MultiSpec.Spec("out1", "/bin/cat", "/bin/wc"))
    assert(MultiSpec.parse("out2|grep x") ===
      MultiSpec.Spec("out2", "grep x", "NONE"))
    intercept[IllegalArgumentException](MultiSpec.parse("just-a-dir"))
    intercept[IllegalArgumentException](MultiSpec.parse("|cat|wc"))
  }

  test("resolve: builtins become native stages, registry wins over builtins") {
    import spark.implicits._
    val df = Seq("keep this spark line", "drop this").toDF("line")
    val grep = MultiSpec.resolve("grep spark", "line", Map.empty, asReducer = false)
    assert(grep(df).collect().map(_.getString(0)).toSeq ===
      Seq("keep this spark line"))
    val wc = MultiSpec.resolve("/bin/wc", "line", Map.empty, asReducer = true)
    assert(wc(df).head().getLong(0) === 2L)
    val cut = MultiSpec.resolve("cut -d , -f 2", "line", Map.empty, asReducer = false)
    assert(cut(Seq("a,b,c").toDF("line")).head().getString(0) === "b")
    // registry shadows the builtin name
    val custom = MultiSpec.resolve("cat", "line",
      Map("cat" -> ((d: org.apache.spark.sql.DataFrame) => d.limit(1))),
      asReducer = false)
    assert(custom(df).count() === 1L)
    // sed: matched on the full command (its slashes defeat path stripping)
    val sed = MultiSpec.resolve("sed s/spark/flink/g", "line",
      Map.empty, asReducer = false)
    assert(sed(df).orderBy("line").collect().map(_.getString(0)).toSeq ===
      Seq("drop this", "keep this flink line"))
    // shell metacharacters defeat builtin resolution: "grep spark || true"
    // is NOT a grep for the pattern "spark || true" (whose empty regex
    // alternation matches EVERYTHING) — it must exec through /bin/sh,
    // where it filters exactly like plain grep
    val shellGrep = MultiSpec.resolve("grep spark || true", "line",
      Map.empty, asReducer = false)
    assert(shellGrep(df).collect().map(_.getString(0)).toSeq ===
      Seq("keep this spark line"))
  }

  test("spec pipeline with exec mapper and execReduce reducer = native wordcount") {
    // the full legacy shape: a real /bin/sh mapper emitting "word\t1"
    // lines, a real /bin/sh reducer summing per key group — Hadoop
    // Streaming's canonical wordcount, run through spec strings
    val docs = graft.util.Tables(spark, sf).documents
    val lines = Pipes.toLine("\t", Seq("text"))(docs)
    val mapper = "tr ' ' '\\n' | tr 'A-Z' 'a-z' | grep -v '^$' | sed 's/$/\\t1/'"
    val reducer = "awk -F'\\t' '$1 != k && NR > 1 { print k \"\\t\" s; s = 0 } " +
      "{ k = $1; s += $2 } END { if (NR > 0) print k \"\\t\" s }'"
    val out = MultiSpec.pipeline(lines, "line",
        Seq(s"""wc|"$mapper"|"$reducer"""")).run()("wc")
    val got = Pipes.cut("line", "\t", Seq(1, 2))(out)
      .select(col("f1").as("word"), col("f2").cast("long").as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val native = Pipes.wordcount("text")(docs)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got.nonEmpty && got === native)
  }

  test("multi_spec equals multi_fanout (spec front end parity)") {
    val a = PipeQueries.multiSpec(spark, sf).collect().map(_.toSeq).toSeq
    val b = PipeQueries.multiFanout(spark, sf).collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("MultiStream CLI writes one directory per spec") {
    val out = java.nio.file.Files.createTempDirectory("graft_ms_cli").toString
    MultiStream.main(Array(
      "-input", s"$sf/documents.parquet", "-column", "text",
      "-output", out,
      "-numReduceTasks", "4",
      "-jobconf", "spark.sql.autoBroadcastJoinThreshold=10485760",
      "-multiple", "hits|grep spark|NONE",
      "-multiple", "counts|/bin/cat|/bin/wc"))
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") === "10485760")
    val hits = spark.read.parquet(s"$out/hits")
    val counts = spark.read.parquet(s"$out/counts")
    assert(hits.count() > 0)
    assert(counts.head().getLong(0) === 500L)
  }

  /** `-multiple` plus a classic `-reducer`/`-combiner` must fail
    * loudly, naming where a reducer goes, and write nothing.
    */
  private def assertMultipleRejects(flag: String, cmd: String): Unit = {
    val out = java.nio.file.Files.createTempDirectory("graft_ms_red").toString
    val e = intercept[IllegalArgumentException](MultiStream.main(Array(
      "-input", s"$sf/documents.parquet", "-column", "text", "-output", out,
      "-multiple", "counts|/bin/cat|NONE", flag, cmd)))
    assert(e.getMessage.contains("each -multiple spec names its own reducer"),
      e.getMessage)
    assert(!new java.io.File(s"$out/counts").exists(), "nothing is written")
  }

  test("-reducer beside -multiple fails loudly instead of being ignored") {
    assertMultipleRejects("-reducer", "/bin/wc")
  }

  test("-combiner beside -multiple names the per-spec reducer, not " +
      "a missing -reducer") {
    assertMultipleRejects("-combiner", "/bin/cat")
  }

  test("-mapred dirKey/mapper/reducer parses as the -multiple spec " +
      "(the spelling the reference CODE accepts, MapStreamJob.java:267)") {
    val outA = java.nio.file.Files.createTempDirectory("graft_ms_mapred").toString
    val outB = java.nio.file.Files.createTempDirectory("graft_ms_mult").toString
    MultiStream.main(Array(
      "-input", s"$sf/documents.parquet", "-column", "text",
      "-output", outA,
      "-mapred", "TEST/grep spark/NONE",
      "-mapred", "counts/cat/wc -l"))
    MultiStream.main(Array(
      "-input", s"$sf/documents.parquet", "-column", "text",
      "-output", outB,
      "-multiple", "TEST|grep spark|NONE",
      "-multiple", "counts|cat|wc -l"))
    val hitsA = spark.read.parquet(s"$outA/TEST").collect().map(_.toSeq).sortBy(_.toString)
    val hitsB = spark.read.parquet(s"$outB/TEST").collect().map(_.toSeq).sortBy(_.toString)
    assert(hitsA.nonEmpty && hitsA === hitsB)
    val cntA = spark.read.parquet(s"$outA/counts").collect().map(_.toSeq).toSeq
    val cntB = spark.read.parquet(s"$outB/counts").collect().map(_.toSeq).toSeq
    assert(cntA === cntB)
    // a malformed spec (fewer than three fields) fails loudly, unlike
    // the reference's silent // error comment
    val e = intercept[RuntimeException] {
      MultiStream.main(Array(
        "-input", s"$sf/documents.parquet", "-output", outA,
        "-mapred", "TEST/only-mapper"))
    }
    assert(e.getMessage.contains("-mapred"))
  }

  test("MultiStream CLI ships -file scripts and honors -partitioner") {
    import org.apache.spark.sql.functions._
    // a legacy mapper script that must travel with the job
    val script = java.nio.file.Files.createTempFile("graft_cli_map", ".sh")
    java.nio.file.Files.writeString(script,
      "#!/bin/sh\ngrep spark || true\n")
    script.toFile.setExecutable(true)
    val out = java.nio.file.Files.createTempDirectory("graft_ms_file").toString
    MultiStream.main(Array(
      "-input", s"$sf/documents.parquet", "-column", "text",
      "-output", out,
      "-file", script.toString,
      "-partitioner", "pmod(xxhash64(key), 3)",
      "-multiple", s"hits|sh ${script.getFileName}|NONE",
      "-multiple", "agg|/bin/cat|/bin/sort"))
    val hits = spark.read.parquet(s"$out/hits")
    val native = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("text").contains("spark")).count()
    assert(hits.count() === native, "shipped-script grep must match native")
    assert(spark.read.parquet(s"$out/agg").count() === 500L)
  }

  test("MultiStream CLI -archives unpacks a script bundle executor-side") {
    import org.apache.spark.sql.functions._
    // a two-file bundle: the entry script sources its helper by
    // bundle-relative path — exactly the multi-file mapper shape
    // -file can't ship (reference -cacheArchive, MapStreamJob.java:307)
    val entry = "#!/bin/sh\n. ./graft_bundle.zip/lib.sh\nrun_filter\n"
    val helper = "run_filter() { grep spark || true; }\n"
    val zipPath = java.nio.file.Files.createTempDirectory("graft_arch")
      .resolve("graft_bundle.zip")
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(zipPath))
    Seq("run.sh" -> entry, "lib.sh" -> helper).foreach { case (name, body) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(body.getBytes("UTF-8")); zos.closeEntry()
    }
    zos.close()
    val out = java.nio.file.Files.createTempDirectory("graft_ms_arch").toString
    MultiStream.main(Array(
      "-input", s"$sf/documents.parquet", "-column", "text",
      "-output", out,
      "-archives", zipPath.toString,
      "-multiple", "hits|graft_bundle.zip/run.sh|NONE"))
    val native = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("text").contains("spark")).count()
    assert(spark.read.parquet(s"$out/hits").count() === native,
      "bundled grep must match native")
  }

  test("archive-member command with a builtin-colliding basename execs the bundle") {
    import spark.implicits._
    // bundle ships a program NAMED `grep` that is not grep — the
    // <archive>/<member> prefix must defeat the "/bin/cat and cat are
    // one idiom" basename strip, or the builtin silently replaces the
    // user's binary with different semantics
    val zipPath = java.nio.file.Files.createTempDirectory("graft_cb")
      .resolve("graft_cb.zip")
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("grep"))
    zos.write("#!/bin/sh\nwhile read l; do echo \"X:$l\"; done\n"
      .getBytes("UTF-8"))
    zos.closeEntry(); zos.close()
    val df = Seq("keep this spark line", "drop this").toDF("line")
    val pipe = MultiSpec.resolve("graft_cb.zip/grep spark", "line",
      Map.empty, asReducer = false, archives = Seq(zipPath.toString))
    // the bundled "grep" echoes EVERY line X:-prefixed; the builtin
    // would have filtered to the one matching line
    assert(pipe(df).orderBy("line").collect().map(_.getString(0)).toSeq ===
      Seq("X:drop this", "X:keep this spark line"))
  }

  test("-file-shipped .jar/.zip stays a flat file, never silently unpacked") {
    import spark.implicits._
    // a child reading an opaque shipped bundle as BYTES (java -jar, a
    // model.zip the script parses itself): extension-based archive
    // inference would hand it an unpacked directory instead
    val f = java.nio.file.Files.createTempFile("graft_flat", ".jar")
    java.nio.file.Files.writeString(f, "payload-line\n")
    val df = Seq("stdin-line").toDF("line")
    val out = Pipes.exec("line",
      Seq("/bin/sh", "-c", s"cat - ${f.getFileName}"),
      ship = Seq(f.toString))(df)
    assert(out.collect().map(_.getString(0)).toSeq ===
      Seq("stdin-line", "payload-line"))
  }

  test("MultiStream CLI -format routes writes through any Spark DataSource") {
    import org.apache.spark.sql.functions._
    // the reference accepts arbitrary OutputFormat classes
    // (MapStreamJob.java:402); the Spark-native equivalent is the
    // DataSource registry — -format names any registered format and
    // both the -multiple and classic paths route df.write through it
    val native = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("text").contains("spark")).count()
    val outJson = java.nio.file.Files.createTempDirectory("graft_fmt_json").toString
    MultiStream.main(Array(
      "-input", s"$sf/documents.parquet", "-column", "text",
      "-output", outJson, "-format", "json",
      "-multiple", "hits|grep spark|NONE"))
    assert(spark.read.json(s"$outJson/hits").count() === native)
    val outCsv = java.nio.file.Files.createTempDirectory("graft_fmt_csv").toString
    MultiStream.main(Array(
      "-input", s"$sf/documents.parquet", "-column", "text",
      "-output", outCsv, "-format", "csv",
      "-mapper", "grep spark || true"))
    assert(spark.read.csv(outCsv).count() === native)
  }

  test("MultiStream CLI classic -mapper/-combiner/-reducer equals native wordcount") {
    import org.apache.spark.sql.functions._
    // -numReduceTasks sets shuffle.partitions on the shared test
    // session; restore it so later suites aren't order-dependent
    val savedShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val out = java.nio.file.Files.createTempDirectory("graft_classic").toString
    try MultiStream.main(Array(
      "-input", s"$sf/documents.parquet", "-column", "text",
      "-output", out, "-numReduceTasks", "3",
      "-mapper",
      "tr '[:upper:]' '[:lower:]' | tr -s '[:space:]' '\\n' | sed 's/$/\t1/'",
      "-combiner", "awk -F'\\t' '{c[$1] += $2} END {for (k in c) print k \"\\t\" c[k]}'",
      "-reducer", "awk -F'\\t' '{c[$1] += $2} END {for (k in c) print k \"\\t\" c[k]}'"))
    finally spark.conf.set("spark.sql.shuffle.partitions", savedShuffle)
    val got = spark.read.parquet(out)
      .select(split(col("text"), "\t").as("p"))
      .select(col("p").getItem(0).as("word"),
        col("p").getItem(1).cast("long").as("cnt"))
      .where(col("word") =!= "")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val native = graft.pipeline.Pipes.wordcount("text")(
        spark.read.parquet(s"$sf/documents.parquet"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === native, "classic CLI pipeline must equal native wordcount")
  }

  test("MultiStream CLI -inputformat kv reads key/value text lines") {
    import org.apache.spark.sql.functions._
    val in = java.nio.file.Files.createTempDirectory("graft_kv_in").toString
    spark.range(0, 100)
      .select(concat(pmod(col("id"), lit(3)), lit("\t"),
        col("id"), lit("\tkeep\ttabs")).as("value"))
      .coalesce(1).write.mode("overwrite").text(in)
    val out = java.nio.file.Files.createTempDirectory("graft_kv_out").toString
    MultiStream.main(Array(
      "-input", in, "-inputformat", "kv", "-column", "v",
      "-output", out,
      "-multiple", "vals|/bin/cat|NONE"))
    val vals = spark.read.parquet(s"$out/vals")
    assert(vals.count() === 100L)
    // limit-2 split: tabs INSIDE the value survive
    assert(vals.where(col("v").contains("keep\ttabs")).count() === 100L)
  }

  test("MultiStream CLI -inputformat kv without -column pipes key\\tvalue lines") {
    // the Hadoop Streaming mapper-input contract for
    // KeyValueTextInputFormat is the full "key\tvalue" line; defaulting
    // the piped column to just the key would silently drop every value
    import org.apache.spark.sql.functions._
    val in = java.nio.file.Files.createTempDirectory("graft_kvd_in").toString
    spark.range(0, 10)
      .select(concat(col("id"), lit("\tv"), col("id")).as("value"))
      .coalesce(1).write.mode("overwrite").text(in)
    val out = java.nio.file.Files.createTempDirectory("graft_kvd_out").toString
    MultiStream.main(Array(
      "-input", in, "-inputformat", "kv",
      "-output", out,
      "-multiple", "lines|/bin/cat|NONE"))
    val lines = spark.read.parquet(s"$out/lines")
      .select("line").collect().map(_.getString(0)).toSet
    assert(lines === (0 until 10).map(i => s"$i\tv$i").toSet)
  }

  test("MultiStream CLI -inputtagged prefixes records with their source file") {
    import spark.implicits._
    // two input dirs under one glob — the multi-input shape the
    // reference's -inputtagged flag exists for
    val base = java.nio.file.Files.createTempDirectory("graft_tag_in")
    val dirA = base.resolve("orders").toString
    val dirB = base.resolve("lineitem").toString
    Seq("o1", "o2").toDF("value").coalesce(1).write.mode("overwrite").text(dirA)
    Seq("l1").toDF("value").coalesce(1).write.mode("overwrite").text(dirB)
    val out = java.nio.file.Files.createTempDirectory("graft_tag_out").toString
    MultiStream.main(Array(
      "-input", s"$base/*", "-inputtagged",
      "-output", out,
      "-multiple", "tagged|/bin/cat|NONE"))
    val rows = spark.read.parquet(s"$out/tagged").collect()
      .map(_.getString(0))
    assert(rows.length === 3)
    // every line carries "<source-file>\t<record>"; grouping by the tag
    // reproduces the input_tagged oracle shape (src → records)
    val bySrc = rows.map { l =>
      val Array(tag, rec) = l.split("\t", 2)
      (if (tag.contains("orders")) "orders" else "lineitem", rec)
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(bySrc("orders") === Set("o1", "o2"))
    assert(bySrc("lineitem") === Set("l1"))
  }

  test("a FULL reference invocation line parses: -outputformat " +
    "PartitionByKeyField + every cluster flag (MapStreamJob.java:393-437)") {
    import org.apache.spark.sql.functions._
    val in = java.nio.file.Files.createTempDirectory("graft_of_in").toString
    spark.range(0, 30)
      .select(concat(pmod(col("id"), lit(3)), lit("\tv"), col("id"))
        .as("value"))
      .coalesce(1).write.mode("overwrite").text(in)
    val out = java.nio.file.Files.createTempDirectory("graft_of_out").toString
    // the exact option surface a reference user would port, cluster
    // plumbing included — all of it must PARSE and run
    MultiStream.main(Array(
      "-dfs", "local", "-jt", "local",
      "-additionalconfspec", "none.xml",
      "-mapdebug", "debug.sh", "-reducedebug", "debug.sh",
      "-verbose", "-info",
      "-input", in,
      "-output", out,
      "-inputformat", "text",
      "-outputformat", "PartitionByKeyField",
      "-numReduceTasks", "2",
      "-multiple", "byk|/bin/cat|NONE"))
    // key-per-directory layout: key=<k>/… with the VALUE only (the
    // reference's generateActualKey returns null = key elided)
    val byk = spark.read.parquet(s"$out/byk")
    assert(byk.columns.toSeq === Seq("value", "key"))
    assert(byk.select("key").distinct().count() === 3)
    assert(byk.count() === 30)
    val k1 = byk.where(col("key") === "1").select("value")
      .collect().map(_.getString(0)).toSet
    assert(k1 === (0 until 30).filter(_ % 3 == 1).map(i => s"v$i").toSet)
    // unknown OutputFormat class names fail loudly, never silently
    // fall back to the default layout
    val e = intercept[RuntimeException] {
      MultiStream.main(Array(
        "-input", in, "-output", out,
        "-outputformat", "com.example.MyOutputFormat",
        "-multiple", "x|/bin/cat|NONE"))
    }
    assert(e.getMessage.contains("-outputformat"))
  }

  test("partitionByKey writes honor the requested DataSource format — " +
      "csv/json/orc are not silently coerced to text") {
    import spark.implicits._
    val df = Seq("1\tv1", "2\tv2", "1\tv9").toDF("value")
    for (fmt <- Seq("csv", "json", "orc", "text")) {
      val out = java.nio.file.Files
        .createTempDirectory(s"graft_pbk_$fmt").toString
      graft.pipeline.MultiPipeline.writeBranch(df, out, fmt,
        partitionByKey = true)
      val back = spark.read.format(fmt).load(out)
      val valCol = back.columns.filterNot(_ == "key").head
      assert(back.count() === 3, s"$fmt: row count")
      assert(back.select(col("key")).distinct().count() === 2, s"$fmt: keys")
      val k1 = back.where(col("key") === "1").select(col(valCol))
        .collect().map(_.getString(0)).toSet
      assert(k1 === Set("v1", "v9"), s"$fmt: key=1 values")
    }
  }

  test("-outputformat TextOutputFormat writes tab-folded text lines") {
    import org.apache.spark.sql.functions._
    val in = java.nio.file.Files.createTempDirectory("graft_oft_in").toString
    spark.range(0, 5).select(concat(lit("w"), col("id")).as("value"))
      .coalesce(1).write.mode("overwrite").text(in)
    val out = java.nio.file.Files.createTempDirectory("graft_oft_out").toString
    MultiStream.main(Array(
      "-input", in, "-output", out,
      "-outputformat", "TextOutputFormat",
      // wc emits a multi-column result: the text writer must tab-fold
      // it to one line (the TextOutputFormat key\tvalue contract)
      "-multiple", "wc|/bin/cat|wc",
      "-multiple", "raw|/bin/cat|NONE"))
    val raw = spark.read.text(s"$out/raw").collect().map(_.getString(0)).toSet
    assert(raw === (0 until 5).map(i => s"w$i").toSet)
    val wc = spark.read.text(s"$out/wc").collect().map(_.getString(0))
    assert(wc.length === 1 && wc.head.split("\t").length >= 2,
      s"wc row must fold to one tab-joined line: ${wc.mkString}")
  }

  test("MultiStream CLI classic -mapper form honors -inputtagged") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_tagc_in").toString
    Seq("r1", "r2").toDF("value").coalesce(1).write.mode("overwrite").text(in)
    val out = java.nio.file.Files.createTempDirectory("graft_tagc_out").toString
    MultiStream.main(Array(
      "-input", in, "-inputtagged",
      "-output", out,
      "-mapper", "/bin/cat"))
    val rows = spark.read.parquet(out).collect().map(_.getString(0))
    assert(rows.length === 2)
    rows.foreach { l =>
      val Array(tag, rec) = l.split("\t", 2)
      assert(tag.contains(in.substring(in.lastIndexOf('/') + 1)),
        s"tag must carry the source file: $l")
      assert(Set("r1", "r2")(rec))
    }
  }
}
