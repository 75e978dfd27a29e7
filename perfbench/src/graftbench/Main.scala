package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, cores: Int,
    knobs: Map[String, String], spanFile: String) {
  val runId = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
}

/** One workload: inputs made once per run, a set-up repeated per
  * session, and a job the timed window repeats. `job` and `check` see
  * the job index; a job fails when it throws or `check` returns a reason.
  */
trait Workload {
  def prepare(spark: SparkSession): Unit
  def setup(spark: SparkSession, round: Int, t: Spans): Unit
  def beforeJob(spark: SparkSession, i: Int, t: Spans): Unit = ()
  def job(spark: SparkSession, i: Int, t: Spans): Unit
  def check(spark: SparkSession, i: Int, t: Spans): Option[String]
  def teardown(spark: SparkSession): Unit = ()
  /** After the window: final maintenance (traced, when the run is). */
  def finish(spark: SparkSession, t: Spans): Unit = ()
  /** The check of the final state (None = ok). */
  def finalCheck(spark: SparkSession): Option[String] = None
  /** The on-disk input every job scans, for the scan ratio. */
  def inputPath: Option[String] = None
  /** Per-layer metrics measured once per run rather than per job. */
  def runMetrics: Map[String, Double] = Map.empty
  /** Branch key of a SQL execution, from its description and plan. */
  def branchOf(text: String): Option[String] = None
}

/** Benchmark runner. Prints human-readable lines and, last, one line
  * `PERFBENCH_RESULT {json}` with the metrics of the chosen mode.
  */
object Main {

  /** Set-ups per run. The first one, in a fresh JVM, also pays class
    * loading and JIT warm-up; `setup_s` is the median of the others.
    * A set-up costs 3–9 s, so more would push a run past its time budget.
    */
  val Setups = 3

  /** Fewest jobs in the timed window, so `job_p50_s` is always a median
    * of at least three: a `crawl_novelty` batch takes about as long as
    * the whole window, which otherwise held one job or two.
    */
  val MinJobs = 3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    if (o.workload == "train") train(o)
    else println("PERFBENCH_RESULT " + run(o, workload(o)))
  }

  private def workload(o: Opts): Workload = o.workload match {
    case "fanout" => new FanoutWorkload(o)
    case "near_dup" => new NearDupWorkload(o)
    case "crawl_novelty" => new CrawlNoveltyWorkload(o)
    case other => sys.error(s"unknown workload '$other'")
  }

  /** One untimed, checked job of every workload at its default knobs:
    * the pass the build records its class-data sharing archive from.
    */
  private def train(o: Opts): Unit =
    Seq("fanout", "near_dup", "crawl_novelty").foreach { name =>
      val wo = o.copy(workload = name, work = s"${o.work}/$name", knobs = Map.empty)
      val w = workload(wo)
      val spark = session(wo)
      try {
        w.prepare(spark)
        w.setup(spark, 0, NoSpans)
        w.job(spark, 0, NoSpans)
        w.check(spark, 0, NoSpans).foreach(why => sys.error(s"$name: $why"))
      } finally { w.teardown(spark); spark.stop() }
    }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m("cores").toInt,
      m.getOrElse("knobs", "").split(",").filter(_.contains("="))
        .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap,
      m.getOrElse("span-file", ""))
  }

  private def session(o: Opts): SparkSession = graft.GraftSession.create(s"local[${o.cores}]")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest of p75/p90/p95/p99 with at least ten samples beyond it. */
  private def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75).find(p => xs.size * (100 - p) / 100.0 >= 10).map { p =>
      val s = xs.sorted
      p -> s(math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1))
    }

  private final class Phase { val wall, cpu = mutable.ArrayBuffer.empty[Double] }

  def run(o: Opts, w: Workload): String = {
    var attempted = 0
    var failed = 0
    var inputBytes = 0.0

    /** One attempt: time it, check it, count it. Returns the job's wall
      * time (without its check).
      */
    def attempt(spark: SparkSession, i: Int, t: Spans, tracer: Option[Tracer],
        ph: Option[Phase]): Double = {
      attempted += 1
      tracer.filter(_.active) match {
        case Some(tr) => tr.window(perJob = true)(w.beforeJob(spark, i, t))
        case None => w.beforeJob(spark, i, t)
      }
      val (c0, ch0) = Proc.cpu()
      val t0 = System.nanoTime()
      val res = scala.util.Try(tracer match {
        case Some(tr) if tr.active => tr.job(s"${o.workload}.job")(w.job(spark, i, t))
        case _ => w.job(spark, i, t)
      })
      val dt = (System.nanoTime() - t0) / 1e9
      val (c1, ch1) = Proc.cpu()
      val bad = res.fold(e => Some(s"threw ${e.toString.take(300)}"),
        _ => scala.util.Try(w.check(spark, i, t)).fold(
          e => Some(s"check threw ${e.toString.take(300)}"), identity))
      bad match {
        case Some(why) =>
          failed += 1
          System.err.println(s"[perfbench] job $i FAILED: $why")
        case None => ph.foreach { p =>
          p.wall += dt; p.cpu += (c1 - c0) + (ch1 - ch0)
        }
      }
      t.count("pipeline.exec_child_cpu_s", ch1 - ch0)
      t.count("sources.input_bytes", inputBytes)
      dt
    }

    val t00 = System.nanoTime()
    def mark(what: String): Unit =
      println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%7.2f s  $what")
    // set-up, repeated: fresh session, workload init, one cold job. The
    // first session also generates the inputs, which is not timed. A
    // traced run traces the last set-up's session creation and init
    var spark: SparkSession = null
    var tracer: Option[Tracer] = None
    val setupS, createS = mutable.ArrayBuffer.empty[Double]
    for (r <- 0 until Setups) {
      if (r > 0) { w.teardown(spark); spark.stop() }
      val t0 = System.nanoTime()
      val e0 = Clock.epochMs()
      spark = session(o)
      val create = (System.nanoTime() - t0) / 1e9
      val e1 = Clock.epochMs()
      createS += create
      if (r == 0) {
        w.prepare(spark)
        inputBytes = w.inputPath.map(Disk.dataFiles(_).map(_.length).sum.toDouble).getOrElse(0.0)
        mark("inputs generated")
      }
      val t1 = System.nanoTime()
      if (o.trace && r == Setups - 1) {
        val tr = new Tracer(spark, w.branchOf, w.inputPath)
        tr.attach()
        tr.record("GraftSession.create", "session", e0, e1)
        tracer = Some(tr)
      }
      tracer match {
        case Some(tr) =>
          tr.enable()
          tr.window(perJob = false)(w.setup(spark, r, tr))
          tr.disable()
        case None => w.setup(spark, r, NoSpans)
      }
      val init = (System.nanoTime() - t1) / 1e9
      val cold = attempt(spark, -1 - r, tracer.getOrElse(NoSpans), None, None)
      if (r > 0) setupS += create + init + cold
      mark(f"set-up ${r + 1} done: session $create%.2f s, init $init%.2f s, job $cold%.2f s")
    }

    // timed window: jobs until their wall times add up to --seconds (the
    // checks between them are not counted) and at least MinJobs ran, so
    // every run times about the same number of jobs. A traced run
    // alternates untraced and traced jobs; the difference is the
    // tracing overhead
    val plain, traced = new Phase
    var measured = 0.0
    var i = 1
    var done = false
    while (!done) {
      val inTraced = tracer.isDefined && i % 2 == 0
      tracer.foreach(tr => if (inTraced) tr.enable() else if (tr.active) tr.disable())
      val ph = if (inTraced) traced else plain
      val t: Spans = tracer.filter(_ => inTraced).getOrElse(NoSpans)
      measured += attempt(spark, i, t, tracer, Some(ph))
      i += 1
      done = measured >= o.seconds && i > MinJobs && (tracer.isEmpty || traced.wall.nonEmpty)
    }
    mark(s"window done, ${i - 1} job(s)")
    val liveHeap = Proc.liveHeapMb()
    val finishBad = scala.util.Try {
      tracer match {
        case Some(tr) =>
          tr.enable()
          try tr.window(perJob = false)(w.finish(spark, tr)) finally tr.disable()
        case None => w.finish(spark, NoSpans)
      }
      w.finalCheck(spark)
    }.fold(e => Some(s"threw $e"), identity)
    finishBad.foreach { why =>
      attempted += 1; failed += 1
      System.err.println(s"[perfbench] final maintenance FAILED: $why")
    }

    mark("final maintenance done")
    val jobs = plain.wall.size
    val p50 = median(plain.wall.toSeq)
    val cpuPerJob = median(plain.cpu.toSeq)
    println(f"[perfbench] ${o.workload} seed=${o.seed} cores=${o.cores} " +
      f"jobs=$jobs attempted=$attempted failed=$failed " +
      f"fail_frac=${failed.toDouble / attempted}%.4f")
    println(f"[perfbench] setup_s median of the ${setupS.size} set-ups after the first: " +
      f"${median(setupS.toSeq)}%.3f (each: ${setupS.map(x => f"$x%.3f").mkString(" ")})")
    println(f"[perfbench] job_p50_s=$p50%.4f over $jobs samples; " + (tail(plain.wall.toSeq) match {
      case Some((p, v)) => f"p$p=$v%.4f"
      case None => "no tail percentile (fewer than 20 samples)"
    }))
    println("[perfbench] job wall s: " + plain.wall.map(x => f"$x%.3f").mkString(" "))
    println("[perfbench] job cpu s:  " + plain.cpu.map(x => f"$x%.2f").mkString(" "))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", median(setupS.toSeq), "s"),
        ("job_p50_s", p50, "s"),
        ("cpu_s_per_job", cpuPerJob, "s"),
        ("live_heap_mb", liveHeap, "MB"))
      else {
        val tr = tracer.get
        val n = math.max(1, traced.wall.size).toDouble
        val tot = tr.totals
        val wall = traced.wall.sum
        val self = tr.selfTimes(n).withDefaultValue(0.0)
        if (o.spanFile.nonEmpty) tr.writeSpans(o.spanFile, o.runId)
        tr.detach()
        def ratio(num: String, den: String) =
          tot.get(den).filter(_ > 0).map(tot.getOrElse(num, 0.0) / _).getOrElse(0.0)
        val perJob = tot.map { case (k, v) => k -> v / n }
        val whole = Map(
          "spark.core_busy_frac" -> tot.getOrElse("spark.executor_run_s", 0.0) / (wall * o.cores),
          "sources.scan_bytes_per_input_byte" -> ratio("sources.scan_bytes", "sources.input_bytes"),
          "dedup.verify_yield" -> ratio("dedup.verified_pairs", "dedup.candidate_pairs"),
          "pipeline.branch_overlap" ->
            tot.filter(_._1.startsWith("pipeline.branch_wall_s.")).values.sum / wall,
          "session.create_s" -> median(createS.drop(1).toSeq),
          "driver.peak_rss_mb" -> Proc.peakRssMb(),
          "trace.overhead_job_p50_s" -> (median(traced.wall.toSeq) - p50),
          "trace.overhead_cpu_s_per_job" -> (median(traced.cpu.toSeq) - cpuPerJob)) ++
          Layers.selfLayers.map(l => s"self_s.$l" -> self(l)) ++
          w.runMetrics
        val all = perJob ++ whole
        println(f"[perfbench] traced ${traced.wall.size} job(s), untraced $jobs; " +
          f"overhead job_p50_s ${median(traced.wall.toSeq) - p50}%+.4f s, " +
          f"cpu_s_per_job ${median(traced.cpu.toSeq) - cpuPerJob}%+.4f s")
        Layers.all.map { case (name, unit) => (name, all.getOrElse(name, 0.0), unit) }
      }
    metrics.foreach { case (k, v, u) => println(f"[perfbench]   $k%-40s $v%.6g $u") }
    w.teardown(spark)
    spark.stop()
    Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
  }
}

/** Every per-layer metric a traced run prints, with its unit. All
  * workloads print the full list; a metric of a layer the workload does
  * not use reads 0. Counters are per traced job; ratios, medians and
  * run-level figures are as named.
  */
object Layers {
  val selfLayers = Seq("session", "pipeline", "dedup", "novelty", "streaming", "catalyst",
    "spark", "driver")
  val branches = Seq("grep", "cut", "sed", "wc", "xgrep", "xcount")

  val all: Seq[(String, String)] = Seq(
    "session.create_s" -> "s",
    "novelty.init_s" -> "s",
    "sources.scan_bytes_per_input_byte" -> "ratio",
    "sources.scan_rows" -> "count",
    "pipeline.resolve_s" -> "s") ++
    branches.map(b => s"pipeline.branch_wall_s.$b" -> "s") ++
    branches.map(b => s"pipeline.branch_busy_s.$b" -> "s") ++ Seq(
    "pipeline.branch_overlap" -> "ratio",
    "pipeline.exec_children" -> "count",
    "pipeline.exec_child_cpu_s" -> "s",
    "pipeline.exec_wait_s" -> "s",
    "catalyst.plan_s" -> "s",
    "catalyst.queries" -> "count",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.core_busy_frac" -> "ratio",
    "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "spark.failed_tasks" -> "count",
    "driver.gap_s" -> "s",
    "driver.peak_rss_mb" -> "MB",
    "dedup.pairs_s" -> "s",
    "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "ratio",
    "dedup.cc_s" -> "s",
    "dedup.cc_edges" -> "count",
    "dedup.keep_s" -> "s",
    "streaming.add_batch_s" -> "s",
    "streaming.query_planning_s" -> "s",
    "streaming.wal_commit_s" -> "s",
    "streaming.trigger_s" -> "s",
    "novelty.index_files" -> "count",
    "novelty.index_bytes_per_gram" -> "B",
    "novelty.compact_s" -> "s",
    "epochs.published" -> "count",
    "trace.overhead_job_p50_s" -> "s",
    "trace.overhead_cpu_s_per_job" -> "s") ++
    selfLayers.map(l => s"self_s.$l" -> "s")
}

/** On-disk helpers for inputs and outputs under the run's work dir. */
object Disk {
  private def walk(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (!f.exists) Nil
    else if (f.isFile) Seq(f)
    else Option(f.listFiles).toSeq.flatten.flatMap(c => walk(c.getPath))
  }

  /** Data files (no checksums, markers or hidden files) under `dir`. */
  def dataFiles(dir: String): Seq[java.io.File] =
    walk(dir).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))

  def delete(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new java.io.File(dir))
  }
}
