package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{MultiPipeline, Pipes}
import graft.queries.PipeQueries

class PipeSpec extends SparkSpec {

  test("Pipes.cut extracts 1-based fields") {
    import spark.implicits._
    val df = Seq("a\tb\tc", "x\ty\tz").toDF("line")
    val out = Pipes.cut("line", "\t", Seq(1, 3))(df).collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("a", "c"), ("x", "z")))
  }

  test("Pipes.keyBy splits key fields and the remaining value") {
    import spark.implicits._
    val df = Seq("k1\tk2\tv1\tv2").toDF("line")
    val r = Pipes.keyBy("line", "\t", 2)(df).select("key", "value").head()
    assert(r.getString(0) === "k1\tk2")
    assert(r.getString(1) === "v1\tv2")
  }

  test("Pipes.wc counts lines/words/chars") {
    import spark.implicits._
    val df = Seq("one two", " three  four five ").toDF("text")
    val r = Pipes.wc("text")(df).head()
    assert(r.getLong(0) === 2L)
    assert(r.getLong(1) === 5L)
    assert(r.getLong(2) === (7L + 18L))
  }

  test("Pipes.chain fuses stages") {
    import spark.implicits._
    val df = Seq("hello world", "hello spark").toDF("text")
    val out = Pipes.chain(
      Pipes.grep("text", "spark"),
      Pipes.wordcount("text"))(df).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("hello", 1L), ("spark", 1L)))
  }

  test("MultiPipeline: branches see the same input, write per-branch dirs") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "tag")
    val out = MultiPipeline(df)
      .branch("evens")(_.filter(col("id") % 2 === 0))
      .branch("byTag")(_.groupBy("tag").count())
      .run()
    assert(out("evens").count() === 1)
    assert(out("byTag").count() === 2)
    val home = java.nio.file.Files.createTempDirectory("graft_mp").toString
    MultiPipeline(df)
      .branch("all")(Pipes.cat)
      .branch("as")(_.filter(col("tag") === "a"))
      .write(home) // default path: concurrent branch-job submission
    assert(spark.read.parquet(s"$home/all").count() === 3)
    assert(spark.read.parquet(s"$home/as").count() === 2)
    val seqHome = java.nio.file.Files.createTempDirectory("graft_mp_seq").toString
    MultiPipeline(df)
      .branch("all")(Pipes.cat)
      .branch("as")(_.filter(col("tag") === "a"))
      .write(seqHome)
    assert(spark.read.parquet(s"$seqHome/all").count() === 3)
    assert(spark.read.parquet(s"$seqHome/as").count() === 2)
  }

  test("MultiPipeline.write rethrows a failed branch only after every sibling write has finished") {
    // a range, not a local relation: the optimizer would evaluate the
    // UDFs over a local relation on the driver, and no job would run.
    // The failing branch fails once the slow one's job is running.
    val df = spark.range(0, 3, 1, 3).toDF("id")
    val slow = udf { (i: Long) => Thread.sleep(3000); i }
    val boom = udf { (i: Long) => Thread.sleep(1000); require(i < 0, "boom"); i }
    val home = java.nio.file.Files.createTempDirectory("graft_mp_fail").toString
    val sc = spark.sparkContext
    sc.setJobGroup("pipespec-failing-branch", "MultiPipeline.write failure")
    try {
      intercept[Exception] {
        MultiPipeline(df)
          .branch("slow")(_.filter(col("id") === 1).select(slow(col("id")).as("id")))
          .branch("boom")(_.filter(col("id") === 1).select(boom(col("id")).as("id")))
          .write(home)
      }
    } finally sc.clearJobGroup()
    org.apache.spark.graftspec.TestBus.drain(sc)
    val running = sc.statusTracker.getActiveJobIds.toSet intersect
      sc.statusTracker.getJobIdsForGroup("pipespec-failing-branch").toSet
    assert(running.isEmpty, s"branch jobs still running after write threw: $running")
    assert(new java.io.File(s"$home/slow/_SUCCESS").exists,
      "the slow sibling's write must have committed before write threw")
  }

  test("MultiPipeline rejects duplicate branch names") {
    import spark.implicits._
    val df = Seq(1).toDF("id")
    intercept[IllegalArgumentException] {
      MultiPipeline(df).branch("x")(Pipes.cat).branch("x")(Pipes.cat)
    }
  }

  test("Pipes.sed rewrites in place; grepV inverts") {
    import spark.implicits._
    val df = Seq("foo bar", "baz qux").toDF("text")
    val sedded = Pipes.sed("text", "ba", "BA")(df).collect().map(_.getString(0)).toSet
    assert(sedded === Set("foo BAr", "BAz qux"))
    val kept = Pipes.grepV("text", "foo")(df).collect().map(_.getString(0)).toSeq
    assert(kept === Seq("baz qux"))
  }

  test("source_textfile round-trip preserves corpus totals") {
    val viaText = PipeQueries.sourceTextfile(spark, sf).head()
    val direct = PipeQueries.pipeWc(spark, sf).head()
    assert(viaText.getLong(0) === direct.getLong(0))
    assert(viaText.getLong(1) === direct.getLong(1))
    assert(viaText.getLong(2) === direct.getLong(2))
  }

  test("pipe queries return sane results on sf0.001") {
    assert(PipeQueries.pipeCat(spark, sf).count() === 25)
    assert(PipeQueries.pipeWc(spark, sf).head().getLong(0) === 500L)
    val wc = PipeQueries.pipeWordcount(spark, sf).collect()
    assert(wc.nonEmpty && wc.length <= 50)
    assert(wc.map(_.getLong(1)).toSeq === wc.map(_.getLong(1)).toSeq.sortBy(-_))
    assert(PipeQueries.multiFanout(spark, sf).count() === 3)
    assert(PipeQueries.aggHistogram(spark, sf).count() > 0)
    assert(PipeQueries.partitionByKey(spark, sf).count() > 0)
  }

  test("partition_by_key produces per-key directories (PartitionByKeyField)") {
    val out = java.nio.file.Files.createTempDirectory("graft_pbk_spec").toString
    PipeQueries.partitionByKeyTo(spark, sf, out).collect()
    val dirs = new java.io.File(out)
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("o_orderstatus=")), s"got $dirs")
  }

  test("two-phase distinct equals countDistinct (skew-proof plan parity)") {
    import org.apache.spark.sql.functions._
    val li = graft.util.Tables(spark, sf).lineitem
    val twoPhase = PipeQueries.aggDistinctTwophase(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(twoPhase === direct && twoPhase.nonEmpty)
  }

  test("agg_hll_rollup: sparse-mode exact on the test corpus, " +
      "rerun-deterministic, day partitions pruned at the scan") {
    import org.apache.spark.sql.functions._
    val ev = graft.util.Tables(spark, sf).events
      .withColumn("day", to_date(col("ts")))
    val bounds = ev.agg(min(col("day")), max(col("day"))).collect()(0)
    val mid = java.time.LocalDate.ofEpochDay(
      bounds.getDate(0).toLocalDate.toEpochDay +
        (bounds.getDate(1).toLocalDate.toEpochDay -
          bounds.getDate(0).toLocalDate.toEpochDay) / 2)
    val exact = ev.where(col("day") > lit(java.sql.Date.valueOf(mid)))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("d"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val out = PipeQueries.aggHllRollup(spark, sf)
    // the range filter must prune day partitions at the sketch-table
    // scan, not post-filter a full read
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      !plan.replaceAll("(?s).*PartitionFilters: \\[", "").startsWith("]"),
      s"day range should prune partitions:\n$plan")
    val got = out.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet === exact.keySet && got.nonEmpty)
    got.foreach { case (k, (nDays, nEvents, est)) =>
      val (d, n) = exact(k)
      assert(nEvents === n, s"$k event count must be exact")
      assert(nDays > 0)
      // sf0.001 has ~50 distinct users: far below the lgK=12 sketch's
      // coupon capacity, so sparse mode is LOSSLESS and the merged
      // estimate equals the exact distinct — not just within tolerance
      assert(est === d, s"$k sparse-mode estimate must be exact: $est vs $d")
    }
    // rerun (fresh staging dir, fresh sketch build) is value-identical
    val again = PipeQueries.aggHllRollup(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(again === got, "rollup must be rerun-deterministic")
  }

  test("agg_sketches: HLL within 5% of exact, quantiles within rank tolerance") {
    import org.apache.spark.sql.functions._
    val li = graft.util.Tables(spark, sf).lineitem
    val sk = PipeQueries.aggSketches(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("d"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.95)").as("p95"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(sk.keySet === exact.keySet && sk.nonEmpty)
    sk.foreach { case (k, (d, p50, p95)) =>
      val (ed, e50, e95) = exact(k)
      assert(math.abs(d - ed).toDouble / ed <= 0.05, s"$k HLL error")
      // l_quantity is integers 1..50: approx quantile must land within
      // one unit of the exact percentile
      assert(math.abs(p50 - e50) <= 1.0, s"$k p50")
      assert(math.abs(p95 - e95) <= 1.0, s"$k p95")
    }
  }

  test("agg_sketches + agg_hll_rollup: outputs VALUE-PINNED at sf0.001 " +
    "(the rows-only queries' exact gates)") {
    // both sketches are deterministic AND partition-invariant here
    // (DeterminismSweep pins 32-vs-7-partition byte equality), so the
    // exact outputs at the test SF are constants — pinning them means
    // a silent regression in signature hashing, register merge, or GK
    // compaction cannot hide behind the rows-only driver status
    val sk = PipeQueries.aggSketches(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(sk === Set(
      ("A", 10L, 25.0, 48.0),
      ("N", 10L, 26.0, 48.0),
      ("R", 10L, 25.0, 48.0)), s"agg_sketches drifted: $sk")
    val hll = PipeQueries.aggHllRollup(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(hll === Set(
      ("click", 15L, 102L, 15L),
      ("error", 15L, 86L, 15L),
      ("purchase", 15L, 96L, 15L),
      ("signup", 15L, 101L, 15L),
      ("view", 15L, 95L, 15L)), s"agg_hll_rollup drifted: $hll")
  }

  test("agg_percentiles: exact tail order p50 <= p95 <= p99 <= max") {
    import org.apache.spark.sql.functions._
    val li = graft.util.Tables(spark, sf).lineitem
    val maxes = li.groupBy(col("l_returnflag")).agg(max(col("l_extendedprice")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rows = PipeQueries.aggPercentiles(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (k, p50, p95, p99) =
        (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(p50 <= p95 && p95 <= p99 && p99 <= maxes(k), s"$k tail order")
    }
  }

  test("percentile library entries default to the GK sketch; exact is opt-in") {
    import org.apache.spark.sql.functions._
    val li = graft.util.Tables(spark, sf).lineitem
    // the DEFAULT call must plan ApproximatePercentile (constant
    // per-partition state) — the OOM-class exact buffer only appears
    // when a caller passes exact/exactBounds = true
    val defTail = planOf(PipeQueries.tailPercentiles(li,
      "l_extendedprice", "l_returnflag"))
    assert(defTail.contains("approx_percentile"), defTail.take(600))
    val exactTail = planOf(PipeQueries.tailPercentiles(li,
      "l_extendedprice", "l_returnflag", exact = true))
    assert(!exactTail.contains("approx_percentile") &&
      exactTail.contains("percentile"), exactTail.take(600))
    val defEqui = planOf(PipeQueries.equidepthHistogram(
      li.select(col("l_extendedprice").as("p"))))
    assert(defEqui.contains("approx_percentile"), defEqui.take(600))
    // the default sketch stays within tolerance of the exact answer
    val ex = PipeQueries.tailPercentiles(li, "l_extendedprice",
      "l_returnflag", exact = true).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    PipeQueries.tailPercentiles(li, "l_extendedprice", "l_returnflag")
      .collect().foreach { r =>
        val rel = math.abs(r.getDouble(2) - ex(r.getString(0))) /
          math.max(ex(r.getString(0)), 1e-9)
        assert(rel < 0.05, s"${r.getString(0)} p95 off by ${rel * 100}%")
      }
  }

  test("equidepth GK production path partitions the column into 4 buckets") {
    import org.apache.spark.sql.functions._
    val li = graft.util.Tables(spark, sf).lineitem
      .select(col("l_extendedprice").as("p"))
    val n = li.count()
    // exactBounds = false is the production default at scale: constant
    // GK state instead of a whole-column exact-percentile buffer
    val rows = PipeQueries.equidepthHistogram(li, exactBounds = false)
      .collect().sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq === Seq(0, 1, 2, 3))
    assert(rows.map(_.getLong(1)).sum === n, "buckets must partition the column")
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getDouble(3) <= b.getDouble(2),
          s"bucket ranges must not overlap: ${a.getDouble(3)} vs ${b.getDouble(2)}")
      case _ => ()
    }
    // GK at accuracy 10000 on this corpus is near-exact: buckets are
    // roughly equi-depth (each within [15%, 35%] of the rows)
    rows.foreach { r =>
      val share = r.getLong(1).toDouble / n
      assert(share > 0.15 && share < 0.35, s"bucket ${r.getInt(0)} share $share")
    }
  }

  test("Pipes.counted records reporter-counter metrics in the same pass") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val obs = new org.apache.spark.sql.Observation("grep_out")
    val df = Seq("keep spark", "drop", "also spark").toDF("text")
    val out = Pipes.chain(
      Pipes.grep("text", "spark"),
      Pipes.counted(obs, count(lit(1)).as("records"),
        sum(length(col("text"))).as("chars")))(df)
    assert(out.count() === 2L)
    assert(obs.get("records") === 2L)
    assert(obs.get("chars") === (10L + 10L))
  }

  test("bitmapDistinct rejects non-integral value columns, matches exact on integral") {
    val docs = graft.util.Tables(spark, sf).documents
    // misuse fails at BUILD time with the alternatives named, not at
    // runtime inside bitmap_bit_position
    val e = intercept[IllegalArgumentException] {
      graft.ops.AggregatePackage.bitmapDistinct(docs, "doc_id", "text")
    }
    assert(e.getMessage.contains("integral"))
    assert(e.getMessage.contains("uniqValueCountTwoPhase"))
    // the integral path equals the skew-proof two-phase exact count
    val ev = graft.util.Tables(spark, sf).events
    val viaBitmap = graft.ops.AggregatePackage
      .bitmapDistinct(ev, "event_type", "user_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.ops.AggregatePackage
      .uniqValueCountTwoPhase(ev, "event_type", "user_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaBitmap === exact)
  }

  test("Pipes.exec runs a real child process and matches the native stage") {
    val docs = graft.util.Tables(spark, sf).documents
    val native = Pipes.grep("text", "spark")(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val line = Pipes.toLine("\t", Seq("doc_id", "text"))(docs)
    val exec = Pipes.exec("line",
        Seq("/bin/sh", "-c", "grep spark || true"))(line)
    val ids = Pipes.cut("line", "\t", Seq(1))(exec)
      .collect().map(_.getString(0).toLong).toSet
    assert(native.nonEmpty && ids === native)
  }

  test("Pipes.exec fails the job loudly when the child exits nonzero") {
    import spark.implicits._
    val df = Seq("x").toDF("line")
    val e = intercept[org.apache.spark.SparkException] {
      Pipes.exec("line", Seq("/bin/sh", "-c", "exit 3"))(df).collect()
    }
    assert(e.getMessage.toLowerCase.contains("exit"))
  }

  test("Pipes.exec passes -cmdenv environment variables to the child") {
    import spark.implicits._
    val df = Seq("a", "b").toDF("line")
    val out = Pipes.exec("line",
        Seq("/bin/sh", "-c", "while read l; do echo \"$l-$GRAFT_TAG\"; done"),
        env = Map("GRAFT_TAG" -> "tagged"))(df)
      .collect().map(_.getString(0)).toSet
    assert(out === Set("a-tagged", "b-tagged"))
  }

  test("exec feeds NULL records as empty lines, never the string \"null\"") {
    import spark.implicits._
    val df = Seq(Some("a"), None, Some("b")).toDF("line")
    val out = Pipes.exec("line", Seq("/bin/cat"))(df)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(out === Seq("", "a", "b"),
      "NULL must cross the pipe as an empty line")
    // and through the reducer path (keyBy + shuffle + sorted child)
    val red = Pipes.execReduce("line", "\t", 1, Seq("/bin/cat"))(df)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(red === Seq("", "a", "b"))
  }

  test("exec children run on empty partitions (pinned reducer-count contract)") {
    import spark.implicits._
    // one key, four pinned reducers: three children get empty stdin.
    // Hadoop runs every reducer regardless (headers, "0" counts are
    // real output); a skipped child would silently drop those lines
    val df = Seq("k1\t1").toDF("line")
    val out = Pipes.execReduce("line", "\t", 1,
        Seq("/bin/sh", "-c", "wc -l"), numPartitions = Some(4))(df)
      .collect().map(_.getString(0).trim).toSeq
    assert(out.length === 4, s"one line per pinned reducer child, got $out")
    assert(out.sorted === Seq("0", "0", "0", "1"))
  }

  test("exec round-trips multibyte UTF-8 through plain, shipped, and combiner paths") {
    import spark.implicits._
    val text = Seq("héllo wörld", "中文 テキスト", "emoji 🚀 done")
    val df = text.toDF("line")
    // plain RDD.pipe path
    val plain = Pipes.exec("line", Seq("/bin/cat"))(df)
      .collect().map(_.getString(0)).toSet
    assert(plain === text.toSet)
    // ShippedPipe path (explicit UTF-8 writer/reader on the child pipes)
    val script = java.nio.file.Files.createTempFile("graft_utf8", ".sh")
    java.nio.file.Files.write(script,
      "#!/bin/sh\nexec /bin/cat\n".getBytes("UTF-8"))
    val shipped = Pipes.exec("line", Seq(script.getFileName.toString),
        ship = Seq(script.toString))(df)
      .collect().map(_.getString(0)).toSet
    assert(shipped === text.toSet)
    // combiner path: per-partition child before the shuffle, then reducer
    val viaCombiner = Pipes.execReduce("line", "\t", 1,
        Seq("/bin/cat"), combiner = Seq("/bin/cat"))(df)
      .collect().map(_.getString(0)).toSet
    assert(viaCombiner === text.toSet)
  }

  test("pipe_exec_grep equals pipe_grep (exec-vs-native parity)") {
    val native = PipeQueries.pipeGrep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val exec = PipeQueries.pipeExecGrep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(native.nonEmpty && exec === native)
  }

  test("pipe_exec_combine equals native wordcount (combiner parity)") {
    // the full exec mapper + awk combiner + awk reducer pipeline must
    // produce exactly what the codegen'd native wordcount produces —
    // the combiner changes WHAT crosses the shuffle, never the answer
    val native = PipeQueries.pipeWordcount(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val exec = PipeQueries.pipeExecCombine(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(native.nonEmpty && exec === native)
  }

  test("execReduce combiner partially aggregates before the shuffle") {
    import spark.implicits._
    // 4 partitions × the same 2 keys: the reducer's awk would sum
    // whatever reaches it, so prove the combiner ran by COUNTING the
    // lines each reducer child receives via a pass-through reducer that
    // tags lines. With the combiner, each reduce key sees at most one
    // line per input partition (≤ 4), not one per record (25).
    val rows = (0 until 100).map(i => s"k${i % 2}\t1")
    val df = rows.toDF("line").repartition(4)
    val sum = Seq("/bin/sh", "-c",
      "awk -F'\\t' '{c[$1] += $2} END {for (k in c) print k \"\\t\" c[k]}'")
    val counting = Seq("/bin/sh", "-c",
      "awk -F'\\t' '{c[$1] += $2; n[$1] += 1} END {for (k in c) print k \"\\t\" c[k] \"\\t\" n[k]}'")
    val out = Pipes.execReduce("line", "\t", 1, counting, combiner = sum)(df)
      .collect().map(_.getString(0).split("\t")).map(a => (a(0), a(1).toLong, a(2).toLong))
      .sortBy(_._1)
    assert(out.map(t => (t._1, t._2)).toSeq === Seq(("k0", 50L), ("k1", 50L)),
      "combined totals must equal the uncombined sum")
    out.foreach { case (k, _, linesSeen) =>
      assert(linesSeen <= 4, s"key $k reached the reducer as $linesSeen lines — combiner did not run map-side")
    }
  }

  test("Pipes.exec ships a local script to executors (-file semantics)") {
    val docs = graft.util.Tables(spark, sf).documents
    val native = Pipes.grep("text", "spark")(docs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the script exists ONLY at this driver-local path; executors get
    // it via addFile and the bare basename in the command resolves to
    // the executor-local copy at task time
    val dir = java.nio.file.Files.createTempDirectory("graft_ship")
    val script = dir.resolve("graft_grep_spark.sh")
    java.nio.file.Files.write(script,
      "#!/bin/sh\ngrep spark || true\n".getBytes("UTF-8"))
    val line = Pipes.toLine("\t", Seq("doc_id", "text"))(docs)
    val exec = Pipes.exec("line", Seq("graft_grep_spark.sh"),
      ship = Seq(script.toString))(line)
    val ids = Pipes.cut("line", "\t", Seq(1))(exec)
      .collect().map(_.getString(0).toLong).toSet
    assert(native.nonEmpty && ids === native)
  }

  test("execReduce honors a custom partitioner expression (-partitioner)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // partition by a custom function of the key (its numeric suffix mod
    // 2) and have the child report its partition's key set: every key
    // group must stay whole (reducer contract) AND co-partitioned keys
    // must share a child exactly as the custom expression dictates
    val rows = (0 until 40).map(i => s"k${i % 4}\t1")
    val df = rows.toDF("line").repartition(4)
    val reporter = Seq("/bin/sh", "-c",
      "awk -F'\\t' '{c[$1] += $2} END {for (k in c) print k \"\\t\" c[k] \"\\t\" NR}'")
    // +1: repartition HASH-partitions the expression value, and
    // murmur3(0) ≡ murmur3(1) (mod 4) — values 1 and 2 land apart.
    // numPartitions pinned (the -numReduceTasks surface): without it
    // AQE coalesces the two small reduce partitions into one child,
    // which is exactly what it should do in production but would make
    // this co-partitioning assertion vacuous
    val out = Pipes.execReduce("line", "\t", 1, reporter,
        partitionKey = Some(pmod(substring(col("key"), 2, 1).cast("int"), lit(2)) + lit(1)),
        numPartitions = Some(4))(df)
      .collect().map(_.getString(0).split("\t")).map(a => (a(0), a(1).toLong, a(2).toLong))
    // every key fully aggregated by exactly one child
    assert(out.map(t => (t._1, t._2)).sortBy(_._1).toSeq ===
      Seq(("k0", 10L), ("k1", 10L), ("k2", 10L), ("k3", 10L)))
    // the child that saw k0 saw 20 input lines (k0 + k2 co-partitioned
    // by the custom expression), same for k1/k3 — proving the partition
    // expression, not the default key hash, routed the records
    out.foreach { case (k, _, nrAtEnd) =>
      assert(nrAtEnd === 20L, s"child owning $k saw $nrAtEnd lines, want 20 (its two co-partitioned keys)")
    }
  }
}
