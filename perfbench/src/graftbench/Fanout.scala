package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `fanout`: the paper's own use. One job is one in-JVM call to
  * `graft.MultiStream.main` with six `-multiple` specs over a
  * tab-separated line corpus (`key\tsource\ttext`): four resolve to
  * native stages (grep, cut, sed, cat|wc) and two run real child
  * processes (a shell-metacharacter grep through `Pipes.exec`, a keyed
  * awk count through `Pipes.execReduce`).
  */
final class FanoutWorkload(o: Opts) extends Workload {
  private val g = new Gen(o.seed, o.knobs)
  private val keySkew = g.dbl("key_skew", 1.1)
  private val vocabSkew = g.dbl("vocab_skew", 1.0)
  private val nBranches = g.int("branches", 6)
  private val extraCols = g.int("extra_cols", 0)
  g.checkKnobs("fanout")
  private val nLines = 30000
  private val nKeys = 5000
  private val vocabN = 4000
  private val words = 12
  private val nSources = 8

  private val dir = s"${o.work}/fanout"
  private val corpus = s"$dir/corpus.parquet"
  private def out(i: Int) = if (i < 0) s"$dir/out-w${-i}" else s"$dir/out-$i"
  private val OutKey = """fanout/out-w?\d+/(\w+)""".r

  private var grepWord = ""
  private var sedWord = ""
  private var expected = Map.empty[String, (Long, Long)]

  private def specs: Seq[String] = Seq(
    s"grep|grep $grepWord|NONE",
    "cut|cut -f 1,3|NONE",
    s"sed|sed s/$sedWord/ZZ/g|NONE",
    "wc|cat|wc",
    s"""xgrep|"grep $grepWord || true"|NONE""",
    """xcount|cat|awk -F'\t' '{c[$1]++} END {for (k in c) print k "\t" c[k]}'""")
    .take(nBranches)

  private def branchKeys = specs.map(_.takeWhile(_ != '|'))

  def prepare(spark: SparkSession): Unit = {
    val vocab = g.vocabulary(vocabN)
    // match words: frequent enough to select a real share of lines, and
    // at least four letters so no key (k123) or source (src4) contains them
    val long = vocab.indices.filter(r => vocab(r).length >= 4)
    grepWord = vocab(long.find(_ >= 9).get)
    sedWord = vocab(long.find(_ >= 2).get)
    val zw = new Zipf(vocabN, vocabSkew)
    val zk = new Zipf(nKeys, keySkew)
    val lines = Array.fill(nLines) {
      val text = Array.fill(words)(vocab(zw.sample(g.nextDouble()))).mkString(" ")
      s"k${zk.sample(g.nextDouble())}\tsrc${g.nextInt(nSources)}\t$text"
    }
    // wc's one row, counted here from the generated lines
    val wcRow = (lines.length.toLong,
      lines.map(_.split("\\s+").count(_.nonEmpty).toLong).sum,
      lines.map(_.length.toLong).sum)
    import spark.implicits._
    val base = lines.toSeq.toDF("line")
    (0 until extraCols).foldLeft(base) { (df, j) =>
      df.withColumn(s"pad$j", sha2(concat(col("line"), lit(j.toString)), 256))
    }.write.parquet(corpus)

    // the expected output of every branch, recomputed with plain Spark
    val in = spark.read.parquet(corpus)
    val line = col("line")
    val hit = in.filter(instr(line, grepWord) > 0)
    val key = substring_index(line, "\t", 1)
    expected = digests(Seq(
      "grep" -> hit,
      "grep.line" -> hit.select(line),
      "cut" -> in.select(key, substring_index(substring_index(line, "\t", 3), "\t", -1)),
      "sed" -> in.withColumn("line", replace(line, lit(sedWord), lit("ZZ"))),
      "xgrep" -> hit.select(line),
      "xcount" -> in.groupBy(key.as("k")).count()
        .select(concat(col("k"), lit("\t"), col("count").cast("string"))),
      "wc" -> Seq(wcRow).toDF()))
  }

  /** Each branch's output schema, given to the reader so a check does
    * not infer it from the files.
    */
  private def schema(k: String): String = k match {
    case "cut" => "f1 string, f3 string"
    case "wc" => "lines bigint, words bigint, chars bigint"
    case "grep" | "sed" => ("line string" +: (0 until extraCols).map(j => s"pad$j string")).mkString(", ")
    case _ => "line string"
  }

  /** Order-insensitive digest per frame: (rows, Σ xxhash64 mod 2³¹−1). */
  private def digests(frames: Seq[(String, DataFrame)]): Map[String, (Long, Long)] =
    frames.map { case (k, df) =>
      val named = df.toDF(df.columns.indices.map(j => s"c$j"): _*)
      named.select(lit(k).as("k"), xxhash64(named.columns.map(col): _*).as("h"))
    }.reduce(_ unionByName _)
      .groupBy("k").agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  def setup(spark: SparkSession, round: Int, t: Spans): Unit = ()

  /** Traced runs time plan building on its own, with no action. */
  override def beforeJob(spark: SparkSession, i: Int, t: Spans): Unit =
    if (t.active)
      t.timed("MultiSpec.pipeline", "pipeline", "pipeline.resolve_s") {
        graft.pipeline.MultiSpec.pipeline(spark.read.parquet(corpus), "line", specs).run()
      }

  def job(spark: SparkSession, i: Int, t: Spans): Unit =
    t.span("MultiStream.main", "pipeline") {
      graft.MultiStream.main(Array("-input", corpus, "-column", "line",
        "-output", out(i)) ++ specs.flatMap(s => Seq("-multiple", s)))
    }

  def check(spark: SparkSession, i: Int, t: Spans): Option[String] =
    try {
      def read(k: String) = spark.read.schema(schema(k)).parquet(s"${out(i)}/$k")
      val frames = branchKeys.flatMap { k =>
        if (k == "grep") Seq(k -> read(k), "grep.line" -> read(k).select("line"))
        else Seq(k -> read(k))
      }
      val got = digests(frames)
      // a branch with no rows has no digest row on either side
      def of(m: Map[String, (Long, Long)], k: String) = m.getOrElse(k, (0L, 0L))
      val wrong = frames.map(_._1).filter(k => of(got, k) != of(expected, k))
      val crossed =
        if (branchKeys.contains("xgrep") && got.get("xgrep") != got.get("grep.line"))
          Some("exec grep differs from native grep") else None
      (wrong.map(k => s"$k digest ${of(got, k)}, want ${of(expected, k)}") ++ crossed)
        .headOption
    } finally Disk.delete(out(i))

  override def inputPath: Option[String] = Some(corpus)

  override def branchOf(text: String): Option[String] =
    OutKey.findFirstMatchIn(text).map(_.group(1)).filter(Layers.branches.contains)
}
