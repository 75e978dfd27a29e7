package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanLike, FilterExec,
  QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's listener event times.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def epochMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** This JVM's CPU time and memory, from procfs. */
object Proc {
  private val clkTck = sys.env.get("PERFBENCH_CLK_TCK").map(_.toDouble).getOrElse(100.0)

  /** (utime + stime, cutime + cstime) in seconds; the second part is
    * the CPU of reaped child processes.
    */
  def cpu(): (Double, Double) = {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/self/stat")))
    // fields after "pid (comm) ": state is field 3, utime field 14
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    ((f(11).toLong + f(12).toLong) / clkTck, (f(13).toLong + f(14).toLong) / clkTck)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** Heap in use after full collections. The pause between them lets
    * Spark's ContextCleaner drop blocks whose references the first
    * collection cleared, so cached blocks the program no longer holds
    * are not counted.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** One timed interval. `parent` is an explicit cause when known; spans
  * without one are placed under the innermost enclosing bench span.
  */
final case class Span(key: String, name: String, layer: String,
    start: Double, end: Double, parent: Option[String])

/** What the workloads call to mark the calls they make into graft. */
trait Spans {
  def span[T](name: String, layer: String)(f: => T): T
  def count(name: String, v: Double): Unit
  /** True while spans and counts are being recorded. */
  def active: Boolean

  /** A span whose duration is also counted under `metric`, in seconds. */
  def timed[T](name: String, layer: String, metric: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try span(name, layer)(f) finally count(metric, (System.nanoTime() - t0) / 1e9)
  }
}

object NoSpans extends Spans {
  def span[T](name: String, layer: String)(f: => T): T = f
  def count(name: String, v: Double): Unit = ()
  def active: Boolean = false
}

/** Spans and counters of a traced run. Bench spans come from the
  * workloads; Spark listener jobs, SQL executions, planning phases and
  * stream triggers become child spans. Listeners are attached before the
  * workload starts its stream (a stream's cloned session copies the
  * query-execution listeners at start) and record only once enabled.
  *
  * Spans are kept when they fall inside a window: a traced job, the call
  * before it (`beforeJob`), the last set-up's init or the final
  * maintenance. The output checks run outside every window, so their
  * queries are left out. Listener counters are taken as per-job deltas
  * between two bus drains around each traced job, for the same reason.
  */
final class Tracer(spark: SparkSession, branchOf: String => Option[String],
    inputPath: Option[String]) extends Spans {
  @volatile private var enabled = false
  private val live = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** (start, end, perJob): per-job windows repeat once per traced job,
    * the others (set-up, final maintenance) happen once per run.
    */
  private val windows = mutable.ArrayBuffer.empty[(Double, Double, Boolean)]
  private var stack = List.empty[String]
  private var nextId = 0

  private def add(s: Span): Unit = synchronized { spans += s }

  def span[T](name: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val key = synchronized { nextId += 1; s"b$nextId" }
      val parent = stack.headOption
      stack = key :: stack
      val s = Clock.epochMs()
      try f
      finally {
        stack = stack.tail
        add(Span(key, name, layer, s, Clock.epochMs(), parent))
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) synchronized { acc(name) += v }

  /** A bench span timed by the caller, in its own window. */
  def record(name: String, layer: String, start: Double, end: Double): Unit = synchronized {
    nextId += 1
    spans += Span(s"b$nextId", name, layer, start, end, None)
    windows += ((start, end, false))
  }

  /** Runs `f` as a window whose spans are kept. */
  def window[T](perJob: Boolean)(f: => T): T = {
    val t0 = Clock.epochMs()
    try f
    finally {
      drain()
      synchronized(windows += ((t0, Clock.epochMs(), perJob)))
    }
  }

  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  def enable(): Unit = { drain(); enabled = true }
  def disable(): Unit = { drain(); enabled = false }
  def active: Boolean = enabled

  /** Runs one job and keeps the listener counters it produced. */
  def job[T](name: String)(f: => T): T = {
    drain()
    val before = synchronized { inputScans.clear(); live.toMap }
    val t0 = Clock.epochMs()
    var t1 = t0
    try span(name, "driver")(f)
    finally {
      t1 = Clock.epochMs()
      drain()
      synchronized {
        windows += ((t0, t1, true))
        acc("sources.scan_bytes") += Tracer.bytesRead(inputScans.toSeq)
        inputScans.clear()
        live.foreach { case (k, v) => acc(k) += v - before.getOrElse(k, 0.0) }
        acc("driver.gap_s") += ((t1 - t0) - unionLen(jobIntervals.filter {
          case (a, b) => a >= t0 - 1 && b <= t1 + 1 }.toSeq)) / 1000.0
      }
    }
  }

  def totals: Map[String, Double] = synchronized(acc.toMap)

  // ---- Spark listener -------------------------------------------------

  private val jobStartT = mutable.Map.empty[Int, Long]
  private val jobExec = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val pipeStages = mutable.Set.empty[Int]
  private val execRoot = mutable.Map.empty[Long, Long]
  private val execStart = mutable.Map.empty[Long, Long]
  private val execBranch = mutable.Map.empty[Long, String]
  /** Scans of the input planned during the current traced job. */
  private val inputScans = mutable.ArrayBuffer.empty[FileSourceScanLike]

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
      live("spark.jobs") += 1
      jobStartT(e.jobId) = e.time
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach { id => val x = id.toLong; jobExec(e.jobId) = execRoot.getOrElse(x, x) }
      e.stageInfos.foreach { si =>
        stageJob(si.stageId) = e.jobId
        // an exec'd child runs inside the mapPartitions graft's
        // ShippedPipe builds; one child per task of such a stage
        if (si.rddInfos.exists(_.callSite.contains("ShippedPipe"))) pipeStages += si.stageId
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
      jobStartT.remove(e.jobId).foreach { s =>
        jobIntervals += ((s.toDouble, e.time.toDouble))
        spans += Span(s"j${e.jobId}", s"job ${e.jobId}", "spark", s, e.time,
          jobExec.get(e.jobId).map(x => s"x$x"))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled) synchronized { live("spark.stages") += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
      live("spark.tasks") += 1
      if (e.taskInfo.failed || e.taskInfo.killed) live("spark.failed_tasks") += 1
      val m = e.taskMetrics
      if (m != null) {
        val run = m.executorRunTime / 1000.0
        val cpu = m.executorCpuTime / 1e9
        live("spark.executor_run_s") += run
        live("spark.executor_cpu_s") += cpu
        live("spark.gc_s") += m.jvmGCTime / 1000.0
        live("spark.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        live("spark.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        live("spark.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        live("sources.scan_rows") += m.inputMetrics.recordsRead
        if (pipeStages(e.stageId)) {
          live("pipeline.exec_children") += 1
          live("pipeline.exec_wait_s") += run - cpu
        }
        for (j <- stageJob.get(e.stageId); x <- jobExec.get(j); b <- execBranch.get(x))
          live(s"pipeline.branch_busy_s.$b") += run
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        val root = s.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(s.executionId)
        execRoot(s.executionId) = root
        execStart(s.executionId) = s.time
        if (root == s.executionId)
          branchOf(s.description + "\n" + s.physicalPlanDescription)
            .foreach(execBranch(s.executionId) = _)
      }
      case x: SparkListenerSQLExecutionEnd => synchronized {
        execStart.remove(x.executionId).foreach { s =>
          val root = execRoot.getOrElse(x.executionId, x.executionId)
          spans += Span(s"x${x.executionId}", s"sql ${x.executionId}", "driver",
            s, x.time, if (root != x.executionId) Some(s"x$root") else None)
          if (root == x.executionId) execBranch.get(root).foreach { b =>
            live(s"pipeline.branch_wall_s.$b") += (x.time - s) / 1000.0
          }
        }
      }
      case _ =>
    }
  }

  // ---- Catalyst: planning phases of every query that ran an action -----

  private object planning extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) record(qe)

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (enabled) record(qe)

    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.filter(_._1 != "parsing")
      val cand = scala.util.Try(Tracer.verifyInputRows(qe.executedPlan)).toOption.flatten
      val scans = inputPath.map(p => Tracer.inputScans(qe.executedPlan, p)).getOrElse(Nil)
      synchronized {
        inputScans ++= scans
        live("catalyst.queries") += 1
        phases.foreach { case (phase, p) =>
          live("catalyst.plan_s") += p.durationMs / 1000.0
          nextId += 1
          spans += Span(s"c$nextId", s"catalyst.$phase", "catalyst",
            p.startTimeMs, p.endTimeMs, None)
        }
        cand.foreach(live("dedup.candidate_pairs") += _)
      }
    }
  }

  // ---- Structured Streaming trigger breakdown ---------------------------

  private object streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (enabled && p.numInputRows > 0) synchronized {
        def s(k: String) = Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
        live("streaming.add_batch_s") += s("addBatch")
        live("streaming.query_planning_s") += s("queryPlanning")
        live("streaming.wal_commit_s") += s("walCommit")
        live("streaming.trigger_s") += s("triggerExecution")
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        spans += Span(s"t${p.batchId}", s"trigger ${p.batchId}", "streaming",
          start, start + s("triggerExecution") * 1000.0, None)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planning)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    enabled = false
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planning)
    spark.streams.removeListener(streams)
  }

  // ---- report -----------------------------------------------------------

  private def unionLen(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** The window holding a span, if any. */
  private def windowOf(s: Span): Option[(Double, Double, Boolean)] =
    windows.find { case (a, b, _) => s.start >= a - 1 && s.end <= b + 1 }

  /** Spans that fall inside a window, each with its resolved parent. */
  def keptSpans: Seq[(Span, Option[String])] = synchronized {
    val in = spans.filter(windowOf(_).isDefined).toSeq
    val keys = in.map(_.key).toSet
    val containers = in.filter(s => s.key.startsWith("b") || s.key.startsWith("t"))
    def enclosing(s: Span) = containers
      .filter(c => c.key != s.key && c.start <= s.start && s.end <= c.end + 1)
      .minByOption(c => c.end - c.start).map(_.key)
    in.map { s =>
      s -> s.parent.filter(keys).orElse(if (s.key.startsWith("b")) None else enclosing(s))
    }
  }

  /** Seconds of each layer's spans not covered by their child spans:
    * spans of per-job windows divided by the `jobs` traced, plus the
    * once-per-run spans (session creation, init, final maintenance).
    */
  def selfTimes(jobs: Double): Map[String, Double] = {
    val resolved = keptSpans
    val kids = resolved.collect { case (s, Some(p)) => p -> s }.groupMap(_._1)(_._2)
    resolved.map { case (s, _) =>
      val covered = unionLen(kids.getOrElse(s.key, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      val perJob = synchronized(windowOf(s)).exists(_._3)
      s.layer -> math.max(0.0, s.end - s.start - covered) / 1000.0 / (if (perJob) jobs else 1.0)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** All spans as JSON lines, with the run id. */
  def writeSpans(path: String, runId: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try keptSpans.foreach { case (s, p) =>
      out.println(Json.obj(Seq("run" -> Json.str(runId), "key" -> Json.str(s.key),
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
        "parent" -> p.map(Json.str).getOrElse("null"))))
    } finally out.close()
  }
}

object Tracer {
  /** Candidate pairs that entered near-duplicate verification: the
    * candidate-side input of the operator applying the Jaccard threshold
    * (array_intersect), a filter or, once pushed down, a join condition.
    */
  def verifyInputRows(plan: SparkPlan): Option[Long] = {
    def jaccard(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.sql.contains("array_intersect")
    nodes(plan).collectFirst {
      case f: FilterExec if jaccard(f.condition) => f.child
      case j: BaseJoinExec if j.condition.exists(jaccard) => j.left
    }.flatMap(c => nodes(c).find(_.metrics.contains("numOutputRows")))
      .map(_.metrics("numOutputRows").value)
  }

  /** The plan's file scans whose root path is `input`. */
  def inputScans(plan: SparkPlan, input: String): Seq[FileSourceScanLike] = {
    val root = new org.apache.hadoop.fs.Path(input).toUri.getPath.stripSuffix("/")
    nodes(plan).collect {
      case f: FileSourceScanLike
          if f.relation.location.rootPaths.exists(_.toUri.getPath.stripSuffix("/") == root) => f
    }
  }

  /** The "size of files read" of the scans that ran. A plan graft builds
    * through `df.rdd` (its exec stages, `Fanout.ensure`) lists its files
    * when it is planned, but reads them only if a job later runs that
    * RDD; such a scan counts once its tasks have output rows.
    */
  def bytesRead(scans: Seq[FileSourceScanLike]): Double = {
    def m(f: FileSourceScanLike, k: String) = f.metrics.get(k).map(_.value).getOrElse(0L)
    scans.filter(f => m(f, "numOutputRows") > 0 || m(f, "scanTime") > 0)
      .map(m(_, "filesSize").toDouble).sum
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Minimal JSON writing: enough for the result line and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
