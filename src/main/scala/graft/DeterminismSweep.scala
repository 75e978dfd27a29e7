package graft

import org.apache.spark.sql.{Row, SparkSession}

/** Partition-count determinism sweep — the tie-break audit.
  *
  * Every SQL-oracled query hash-matches DuckDB, but the oracle always
  * sees ONE Spark configuration: the same shuffle partition count, the
  * same file splits, the same merge order. A query whose result depends
  * on partitioning (an under-specified window ORDER BY, a top-k tie
  * broken by arrival order, a float aggregate rounded right at a ulp
  * boundary) passes that gate and still returns different answers on a
  * different cluster — the exact class of bug a larger scale factor
  * would have surfaced via denser ties.
  *
  * This sweep runs the ENTIRE query surface twice in one JVM — once at
  * `local[32]` / 32 shuffle partitions (the driver contract), once at
  * `local[7]` / 7 (odd, non-divisor, changes file splits via
  * defaultParallelism AND every exchange's layout) — and demands
  * identical results:
  *
  *  - PASS        — byte-identical at 9-decimal float rendering;
  *  - PASS~1e-4   — identical only at 4 decimals: float accumulation
  *                  order is partition-dependent (sum/avg over doubles
  *                  is not associative), so last-ulp drift is honest and
  *                  bounded; anything past 1e-4 is NOT drift and fails;
  *  - VARIES      — allowed for declared merge-order-dependent sketches
  *                  (approx_percentile's GK summary is the one we ship);
  *  - FAIL        — anything else: a real nondeterminism bug.
  *
  * Artifact: `DETERMINISM.txt`, one line per query. Exit 1 on any FAIL.
  * Usage: `sbt "runMain graft.DeterminismSweep [sfDir]"` (default
  * sf0.01 — collected results stay driver-bounded).
  */
object DeterminismSweep {

  /** Queries whose values may legitimately differ across partitioning:
    * agg_sketches reports approx_percentile, whose Greenwald-Khanna
    * summary is merge-order dependent by construction (the HLL and
    * CountMin columns beside it are commutative and would match alone).
    */
  private val AllowedVariance = Set("agg_sketches")

  private def render(v: Any, dec: Int): String = v match {
    case null => "∅"
    case d: Double =>
      String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(d))
    case f: Float =>
      String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(f.toDouble))
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case r: Row => r.toSeq.map(render(_, dec)).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] =>
      s.map(render(_, dec)).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k, dec) + "->" + render(x, dec) }
        .toSeq.sorted.mkString("{", ",", "}")
    case x => x.toString
  }

  /** Row-order-independent canonical form: rows rendered, then sorted —
    * ORDER BY is part of each query's contract, but collect order of an
    * un-ordered tail is not what this sweep audits (the driver's own
    * compare sorts too); VALUE differences are.
    */
  private def canonical(rows: Array[Row], dec: Int): String =
    rows.map(_.toSeq.map(render(_, dec)).mkString(""))
      .sorted.mkString("\n")

  private def runAll(cpus: Int, dir: String): Map[String, Either[String, Array[Row]]] = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.queries.map { case (name, fn) =>
      name -> (try Right(fn(spark, dir).collect())
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") })
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val a = runAll(32, dir)
    val b = runAll(7, dir)
    val lines = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      (a(name), b(name)) match {
        case (Left(e), _) => s"FAIL     $name (local[32] errored: $e)"
        case (_, Left(e)) => s"FAIL     $name (local[7] errored: $e)"
        case (Right(ra), Right(rb)) =>
          if (ra.length != rb.length)
            s"FAIL     $name (rows ${ra.length} vs ${rb.length})"
          else if (canonical(ra, 9) == canonical(rb, 9))
            s"PASS     $name (${ra.length} rows)"
          else if (canonical(ra, 4) == canonical(rb, 4))
            s"PASS~1e-4 $name (${ra.length} rows; float accumulation order)"
          else if (AllowedVariance(name))
            s"VARIES   $name (declared merge-order-dependent sketch)"
          else
            s"FAIL     $name (values differ across partitioning)"
      }
    }
    val failed = lines.count(_.startsWith("FAIL"))
    val summary = s"== ${lines.size} queries: ${lines.count(_.startsWith("PASS "))} exact, " +
      s"${lines.count(_.startsWith("PASS~"))} float-ulp, " +
      s"${lines.count(_.startsWith("VARIES"))} declared-varying, $failed failed =="
    val out = (lines :+ summary).mkString("", "\n", "\n")
    print(out)
    java.nio.file.Files.write(java.nio.file.Paths.get("DETERMINISM.txt"),
      out.getBytes("UTF-8"))
    if (failed > 0) sys.exit(1)
  }
}
