package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** `crawl_novelty`: a persisted n-gram index (`NoveltyIndex`) written
  * beside reads. Set-up indexes a base corpus; crawl batches then flow
  * through `Streams.noveltyStream` from a `MemoryStream`, in a closed
  * loop with one client (the next batch is added once the previous one
  * is done). One job is one batch: probe, admit and append. After the
  * window the stream stops and one timed `NoveltyIndex.compact` runs.
  */
final class CrawlNoveltyWorkload(o: Opts) extends Workload {
  private val g = new Gen(o.seed, o.knobs)
  private val recrawlShare = g.dbl("recrawl_share", 0.5)
  private val baseBatchRatio = g.int("base_batch_ratio", 5)
  private val vocabSkew = g.dbl("vocab_skew", 0.9)
  g.checkKnobs("crawl_novelty")
  private val batchDocs = 100
  private val baseDocs = baseBatchRatio * batchDocs
  private val editShare = 0.5
  private val docWords = 40
  private val vocabN = 20000
  private val nSources = 4
  private val n = 3

  private val dir = s"${o.work}/crawl_novelty"
  private val basePath = s"$dir/base.parquet"
  private var idx = ""

  private var vocab = Array.empty[String]
  private var zw: Zipf = _
  private var base = Array.empty[(Long, String, String)]
  private var baseGrams = Set.empty[Long]

  // per set-up state: the stream, its feed, the batch generator and the
  // oracle's view of the index (base grams plus every admitted batch)
  private var query: StreamingQuery = _
  private var feed: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)] = _
  private var rng: java.util.SplittableRandom = _
  private var pool = mutable.ArrayBuffer.empty[String]
  private var nextId = 0L
  private var seen = mutable.HashSet.empty[Long]
  private var lastBatch = Array.empty[(Long, String, String)]
  private val sunk = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Row]]()
  private val initS = mutable.ArrayBuffer.empty[Double]
  private var indexFiles, indexBytesPerGram, compactS, published = 0.0

  private def text(r: java.util.SplittableRandom): String =
    Array.fill(docWords)(vocab(zw.sample(r.nextDouble()))).mkString(" ")

  private def grams(t: String): Set[Long] = Text.ngrams(t, n).map(Text.gramHash)

  def prepare(spark: SparkSession): Unit = {
    vocab = g.vocabulary(vocabN)
    zw = new Zipf(vocabN, vocabSkew)
    val r = g.fork()
    base = Array.tabulate(baseDocs)(i => (i.toLong, s"src${r.nextInt(nSources)}", text(r)))
    baseGrams = base.iterator.flatMap(d => grams(d._3)).toSet
    import spark.implicits._
    base.toSeq.toDF("doc_id", "source", "text").write.parquet(basePath)
  }

  def setup(spark: SparkSession, round: Int, t: Spans): Unit = {
    idx = s"$dir/index-$round"
    val t0 = System.nanoTime()
    t.span("NoveltyIndex.init", "novelty") {
      graft.dedup.NoveltyIndex.init(spark, spark.read.parquet(basePath), idx, "text", n)
    }
    initS += (System.nanoTime() - t0) / 1e9
    // every set-up replays the same batch sequence against a fresh index
    rng = new java.util.SplittableRandom(o.seed * 1000003L + 17)
    pool = mutable.ArrayBuffer.from(base.map(_._3))
    nextId = baseDocs.toLong
    seen = mutable.HashSet.from(baseGrams)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    feed = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    query = graft.streaming.Streams.noveltyStream(
        feed.toDS().toDF("doc_id", "source", "text"), idx, "source", "text", n,
        checkpointDir = Some(s"$dir/checkpoint-$round")) { (_, rows) =>
      sunk.add(rows)
    }
  }

  /** The next crawl batch: recrawled docs (some edited) and new ones. */
  private def nextBatch(): Array[(Long, String, String)] = Array.fill(batchDocs) {
    val body =
      if (rng.nextDouble() < recrawlShare) {
        val old = pool(rng.nextInt(pool.size))
        if (rng.nextDouble() < editShare) {
          val w = old.split(" ")
          w(rng.nextInt(w.length)) = vocab(zw.sample(rng.nextDouble()))
          w.mkString(" ")
        } else old
      } else text(rng)
    nextId += 1
    (nextId, s"src${rng.nextInt(nSources)}", body)
  }

  def job(spark: SparkSession, i: Int, t: Spans): Unit = {
    lastBatch = nextBatch()
    pool ++= lastBatch.map(_._3)
    sunk.clear()
    t.span("noveltyStream.batch", "streaming") {
      feed.addData(lastBatch.toSeq)
      query.processAllAvailable()
    }
  }

  /** The closed-form recount: per source, the batch's distinct grams and
    * those absent from the base and from every earlier batch.
    */
  def check(spark: SparkSession, i: Int, t: Spans): Option[String] = {
    val bySource = lastBatch.groupMapReduce(_._2)(d => grams(d._3))(_ ++ _)
    val want = bySource.map { case (src, gs) =>
      val novel = gs.count(g => !seen.contains(g)).toLong
      (src, gs.size.toLong, novel, novel * 10000 / gs.size)
    }.toSet
    lastBatch.foreach(d => seen ++= grams(d._3))
    val batches = sunk.toArray(Array.empty[Seq[Row]])
    val got = batches.flatten.map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.get(3).toString.toLong)).toSet
    if (batches.length != 1) Some(s"${batches.length} sink calls for one batch")
    else if (got != want) Some(s"batch rows ${got.toSeq.sorted}, want ${want.toSeq.sorted}")
    else None
  }

  override def teardown(spark: SparkSession): Unit =
    if (query != null) { query.stop(); query = null }

  /** Stops the stream. A traced run then compacts the index (timed), so
    * the final check covers the compacted epoch; untraced runs leave
    * compaction out to fit the run's time budget.
    */
  override def finish(spark: SparkSession, t: Spans): Unit = {
    teardown(spark)
    val files = Disk.dataFiles(idx).filter(_.getName.endsWith(".parquet"))
    indexFiles = files.size
    indexBytesPerGram = files.map(_.length).sum.toDouble / seen.size
    if (o.trace) {
      val t0 = System.nanoTime()
      t.span("NoveltyIndex.compact", "novelty")(graft.dedup.NoveltyIndex.compact(spark, idx))
      compactS = (System.nanoTime() - t0) / 1e9
    }
    published = graft.util.Epochs.published(spark, idx).size
  }

  /** The index holds exactly the distinct grams of the base and every batch. */
  override def finalCheck(spark: SparkSession): Option[String] = {
    val got = graft.dedup.NoveltyIndex.load(spark, idx).grams
      .select("gh").distinct().collect().map(_.getLong(0)).toSet
    if (got != seen) Some(s"index holds ${got.size} grams, want ${seen.size} " +
      s"(${(got -- seen).size} extra, ${(seen -- got).size} missing)")
    else None
  }

  override def runMetrics: Map[String, Double] = Map(
    "novelty.init_s" -> initS.sorted.apply(initS.size / 2),
    "novelty.index_files" -> indexFiles,
    "novelty.index_bytes_per_gram" -> indexBytesPerGram,
    "novelty.compact_s" -> compactS,
    "epochs.published" -> published)
}
