package graft.dedup

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.util.Epochs

/** Persistent corpus n-gram set — the INCREMENTAL crawl-novelty story:
  * q_crawl_novelty's "marginal value of the next crawl" metric needs
  * the OLD corpus's distinct gram set on every run, and recomputing it
  * is a full-corpus scan + distinct each time — the one cost that
  * cannot be O(new crawl) without a persisted index. This store is
  * that index: the corpus's distinct 60-bit gram hashes (the SAME
  * tokenize → word-n-gram → md5-prefix arithmetic the full recompute
  * uses — [[gramHashes]] is the single definition both ride), written
  * once, bucketed by hash, and maintained under the
  * [[graft.util.Epochs]] store exactly like [[SnapshotIndex]]:
  *
  *  - **probe** is map-only on the new crawl until ONE (8-byte gh)
  *    anti-join against the index — O(new crawl grams), never
  *    O(corpus);
  *  - **append** admits a crawl's NOVEL grams only (the probe already
  *    computed them), so tomorrow's probe sees today's admissions
  *    without a rebuild; it runs through [[Epochs.appendLoop]], the
  *    store's one append loop and fence;
  *  - **compact** re-distincts and right-sizes files into epoch N+1
  *    through [[Epochs.maintain]] (the maintenance lease and the
  *    checked-rewrite fence); readers pin an epoch and are never
  *    disturbed.
  *
  * Layout of one epoch: `grams/b=<i>/` holds the buckets `init` and
  * `compact` write — `b = pmod(gh, nb)` with nb = [[filesFor]] of the
  * distinct gram count, one file per bucket; `delta/` holds the
  * appends, flat, one file per [[GramsPerFile]] novel grams (one file
  * for a daily crawl); `bloom/` holds the sketch rows. A read is
  * buckets ∪ delta. Appends stay out of the bucket directories so a
  * crawl batch adds one file, not one per bucket it touches (every
  * later probe opens every file), and the bucket count follows the
  * data so that an index under 32 buckets (~128 M grams) sits below
  * Spark's parallel-discovery threshold and is listed on the driver
  * instead of by a listing job per load. Larger indexes still get the
  * parallel listing, where the scan dwarfs it. An epoch written with a
  * different bucket count (the old fixed 64, appended files inside the
  * buckets) reads, appends and compacts through the same paths — the
  * bucket column is never a join key.
  *
  * Every append ([[append]], and [[probeAndAdmit]], the stream's path)
  * writes its bloom row and its delta grams in one job under the
  * epoch's `_append-<uuid>/` staging dir (`part=bloom/`,
  * `part=delta/`) and publishes them by renames: the bloom file(s) into
  * `bloom/` first, then the delta file(s) into `delta/`, then the
  * staging dir goes ([[writeAppend]]). An append with nothing novel
  * writes nothing. No reader lists a staging dir; one left by a crash
  * is dropped with its epoch.
  *
  * Physical-duplicate contract (the snapshot indexes' retry contract,
  * restated for a SET): the logical content is the distinct gram set;
  * files may transiently carry duplicates (a crash-retried append, or
  * the fence's re-append after a raced epoch advance) because every
  * read path is duplicate-insensitive — probes anti-join (a dup on
  * the build side changes nothing) and compaction re-distincts. The
  * append-≡-rebuild and compaction-invariance pins live in DedupSpec.
  *
  * At 100 TB the index is gram-scale (the honest floor for corpus-level
  * novelty) but the DAILY job touches it through one anti-join on the
  * 8-byte gh — the corpus text is never re-read. The CHEAPER tier on
  * top of that join is the epoch's **bloom membership sketch** over
  * the same gh column (dedup_bloom's [[graft.functions.BloomFilter]]
  * machinery), persisted beside the gram files and OR-merged on load:
  * with `prefilter = true`, [[probe]] broadcasts the KB–MB filter,
  * every bloom-NEGATIVE gram is PROVEN novel map-side (bloom answers
  * have no false negatives), and only the bloom-positive residue —
  * true matches plus the ~fpp false-positive sliver — pays the exact
  * anti-join. Prefiltered output ≡ plain probe output EXACTLY
  * (spec-pinned), because the one-sided error only ever routes grams
  * INTO the exact join, never around it. The torn-write direction is
  * guarded the same way: appends land their bloom row BEFORE their
  * gram files, so a crash between the two leaves extra bits (a
  * slightly higher fpp), never a file gram the sketch would deny.
  *
  * Reference anchor: the reference pipeline re-derives corpus state
  * per run (hadoop-multiple-streaming MultiStreamJobRunner.java:34-78
  * launches each job against the full input set); the persisted-index
  * shape is the Spark-native replacement for that rescan.
  */
object NoveltyIndex {

  /** Upper bound on the bucket count (one directory per bucket, one
    * file each after `init`/`compact`) and on the files one append
    * writes. The actual bucket count is [[filesFor]] of the epoch's
    * distinct gram count, so only an index past ~264 M grams reaches
    * it; past 32 buckets Spark lists the grams with a parallel job.
    */
  val NBuckets = 64

  /** Target gh rows per written file (~32 MB of longs before
    * encoding) — the one constant that sets file size, for buckets
    * and appended delta files alike (see [[filesFor]]).
    */
  val GramsPerFile = 4L << 20

  /** Files that `grams` distinct grams are written as:
    * ceil(grams / [[GramsPerFile]]) clamped to [1, [[NBuckets]]]. It
    * is the bucket count at `init`/`compact` and the write-task count
    * of an append, so a daily crawl appends one file and a small
    * index has one bucket.
    */
  private[graft] def filesFor(grams: Long): Int =
    math.max(1L, math.min(NBuckets.toLong,
      (grams + GramsPerFile - 1) / GramsPerFile)).toInt

  /** False-positive rate the epoch blooms are sized for. The filter
    * for n grams costs ~1.2 bytes/gram at 0.005 — a 1e9-gram corpus
    * index carries a ~1.2 GB sketch, which is when the caller shards
    * the key space or simply skips the prefilter; at the daily-crawl
    * scales the tier targets, the broadcast is KB–MB.
    */
  val BloomFpp = 0.005

  /** A pinned read handle: `grams` (column `gh`) reads only `epoch`'s
    * files; `bloom` is the epoch's OR-merged membership sketch (None
    * for a pre-sketch epoch — [[probe]] then ignores `prefilter`).
    */
  final case class Snapshot(grams: DataFrame, epoch: Long, dir: String,
      bloom: Option[Array[Byte]] = None)

  /** The shared gram arithmetic — tokenize → word n-grams → 60-bit
    * md5-prefix hash (long). ONE definition corpus-wide: the full
    * recompute (q_crawl_novelty), this index, and its probes all call
    * here, so "probe ≡ recompute" holds by construction on the gram
    * side. Wide gram strings die map-side; only 8-byte hashes cross
    * any exchange.
    */
  def gramHashes(docs: DataFrame, textCol: String, n: Int): DataFrame =
    docs.select(explode(graft.text.TextOps.wordNgrams(
        graft.text.TextOps.tokens(col(textCol)), n)).as("g"))
      .select(gh(col("g")).as("gh"))

  /** [[gramHashes]] keeping a grouping column (the probe's per-source
    * rollup needs it).
    */
  def sourceGramHashes(docs: DataFrame, sourceCol: String,
      textCol: String, n: Int): DataFrame =
    docs.select(col(sourceCol), explode(graft.text.TextOps.wordNgrams(
        graft.text.TextOps.tokens(col(textCol)), n)).as("g"))
      .select(col(sourceCol), gh(col("g")).as("gh"))

  private def gh(g: org.apache.spark.sql.Column) =
    conv(substring(md5(g), 1, 15), 16, 10).cast("long")

  private def gramsPath(epochDir: String) = s"$epochDir/grams"

  private def deltaPath(epochDir: String) = s"$epochDir/delta"

  private def bloomPath(epochDir: String) = s"$epochDir/bloom"

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The epoch's gram set, buckets ∪ delta, empty-tree-safe: a part
    * whose writes left no data files (empty corpus, no append yet) is
    * left out, and an epoch with neither reads as the EMPTY gram set —
    * the semantically right answer ("nothing has been seen") — instead
    * of dying in parquet schema inference on a _SUCCESS-only directory.
    */
  private def epochGrams(spark: SparkSession, epochDir: String): DataFrame = {
    val fs = fsOf(spark, epochDir)
    // globStatus returns null when no path component matches at all
    def hasFiles(glob: String) =
      Option(fs.globStatus(new Path(glob)))
        .exists(_.nonEmpty)
    // schemas pinned (gh data column, + the b partition dir for the
    // buckets): the layout is this object's own, so inference would
    // re-read a footer per load for a schema that never changes — the
    // streaming loop loads the epoch once per batch, and at corpus
    // scale inference is an extra driver-side footer read on every probe
    val buckets = Option.when(hasFiles(s"${gramsPath(epochDir)}/*/*.parquet"))(
      spark.read.schema("gh BIGINT, b INT").parquet(gramsPath(epochDir))
        .select(col("gh")))
    val delta = Option.when(hasFiles(s"${deltaPath(epochDir)}/*.parquet"))(
      spark.read.schema("gh BIGINT").parquet(deltaPath(epochDir)))
    (buckets ++ delta).reduceOption(_ union _)
      .getOrElse(spark.range(0).select(col("id").as("gh")))
  }

  /** Build the epoch's sketch fresh over its pinned distinct gram set
    * of `n0` grams — init's and compact's path (right-sized: n0 is the
    * actual distinct gram count). Degenerate-corpus guards: an empty
    * gram set (empty corpus) stays sketchless (probe's documented
    * pre-sketch fallback), and the sizing n is floored at 64 keys so
    * optimalNumHashes never exceeds [[graft.functions.BloomFilterAgg]]'s
    * k ≤ 32 bound on a near-empty gram set (n = 1 would size k = 44;
    * flooring only over-sizes the filter, which tightens fpp).
    */
  private def writeFreshBloom(spark: SparkSession, epochDir: String,
      grams: DataFrame, n0: Long): Unit = {
    if (n0 == 0L) return
    val n = math.max(64L, n0)
    val m = graft.functions.BloomUtil.optimalNumBits(n, BloomFpp)
    val k = math.min(32, graft.functions.BloomUtil.optimalNumHashes(m, n))
    grams.agg(bloomAgg(spark, col("gh"), m, k)).coalesce(1)
      .write.mode("append").parquet(bloomPath(epochDir))
  }

  /** One bloom row (serialized filter, header-carrying) over `gh` at
    * geometry (m = `numBits`, k = `numHashes`). gh is already a 60-bit
    * hash; [[graft.functions.BloomUtil]] re-avalanches it (splitmix64
    * double hashing), so feeding it raw is sound; null gh are skipped.
    */
  private def bloomAgg(spark: SparkSession, gh: org.apache.spark.sql.Column,
      numBits: Int, numHashes: Int): org.apache.spark.sql.Column = {
    graft.functions.GraftFunctions.register(spark)
    call_function("graft_bloom_agg", gh, lit(numBits), lit(numHashes)).as("bf")
  }

  /** Write a fresh epoch (init's and compact's path): the distinct gram
    * set is pinned and counted ONCE, and the buckets (sized from the
    * count) and the right-sized sketch both read the pin — no re-read
    * of the files just written.
    */
  private def writeEpoch(spark: SparkSession, distinctGrams: DataFrame,
      epochDir: String): Unit = {
    val grams = distinctGrams.localCheckpoint(true)
    try {
      val n = grams.count()
      val nb = filesFor(n)
      // co-locate each bucket before the partitioned write so it lands
      // as ONE file (without the exchange every upstream task writes
      // into every bucket dir)
      grams.withColumn("b", pmod(col("gh"), lit(nb)))
        .repartition(nb, col("b"))
        .write.mode("overwrite").partitionBy("b")
        .parquet(gramsPath(epochDir))
      writeFreshBloom(spark, epochDir, grams, n)
    } finally graft.util.Caches.release(grams)
  }

  /** The epoch's membership sketch: all bloom rows OR-merged (an
    * appended epoch carries one row per admitted crawl — same (m, k)
    * by construction, and OR is exactly the [[graft.functions
    * .BloomFilterAgg]] merge). None for a pre-sketch epoch.
    */
  private def loadBloom(spark: SparkSession,
      epochDir: String): Option[Array[Byte]] = {
    val p = new Path(bloomPath(epochDir))
    if (!fsOf(spark, epochDir).exists(p)) None
    else {
      // schema pinned for the same reason as the gram read: the bloom
      // table is this object's own one-column layout
      val rows = spark.read.schema("bf BINARY").parquet(p.toString).collect()
        .map(_.getAs[Array[Byte]](0))
      Option.when(rows.nonEmpty)(orMerge(rows.toSeq, p.toString))
    }
  }

  /** OR-merge sketch rows of one geometry into a fresh filter. */
  private def orMerge(rows: Seq[Array[Byte]], where: String): Array[Byte] = {
    val (k0, acc) = graft.functions.BloomUtil.deserializeWords(rows.head)
    rows.tail.foreach { b =>
      val (k, w) = graft.functions.BloomUtil.deserializeWords(b)
      require(k == k0 && w.length == acc.length,
        s"NoveltyIndex: mixed filter geometry under $where " +
          s"(k=$k0/${k}, words=${acc.length}/${w.length}) — the " +
          "epoch's sketch is unusable; compact to rebuild it")
      var i = 0
      while (i < acc.length) { acc(i) |= w(i); i += 1 }
    }
    graft.functions.BloomUtil.serialize(acc, k0)
  }

  /** Index a corpus: distinct grams pinned and counted once, written
    * as [[filesFor]]`(count)` buckets of one file each (the compact
    * layout, from birth), with the epoch's membership sketch built
    * from the same pin, and published as epoch 0 — sketch BEFORE
    * publish, so an unpublished torn init is invisible.
    */
  def init(spark: SparkSession, docs: DataFrame, dir: String,
      textCol: String, n: Int): Unit = {
    writeEpoch(spark, gramHashes(docs, textCol, n).distinct(),
      Epochs.epochPath(dir, 0L))
    Epochs.publish(spark, dir, 0L)
  }

  /** Pin the current epoch and load its gram set + membership sketch. */
  def load(spark: SparkSession, dir: String): Snapshot =
    new HeldSketch().load(spark, dir)

  /** Per-source novelty of a new crawl against the indexed corpus —
    * the EXACT output shape (and arithmetic) of the full recompute:
    * (source, n_grams distinct, n_novel unseen-anywhere, novelty_bp
    * integer basis points). The new side is map-only to its distinct
    * (source, gh) pairs; `n_novel` comes from a LEFT ANTI join on the
    * 8-byte gh — duplicate-insensitive on the index side by anti-join
    * semantics, so the physical-duplicate contract never inflates a
    * count. Two |sources|-row rollups + one |sources|-row join close
    * it out.
    *
    * Plan shape (PlanSpec-pinned): `n_grams` and `n_novel` each
    * consume the new side, so the new crawl's gram pass runs TWICE. A
    * left join + seen flag would need the INDEX side distinct-exchanged
    * per probe to stay duplicate-safe; the one-pass form that needs no
    * such shuffle is the positive `gh IN (grams)` flag (an
    * ExistenceJoin), which [[probeAndAdmit]] pins for the stream.
    *
    * `prefilter = true` engages the epoch's bloom sketch (the
    * q_bloom_join shape, inverted for an ANTI join): the filter rides
    * ONE one-row broadcast, bloom-NEGATIVE grams are novel by the
    * no-false-negative guarantee and skip the join entirely, and only
    * the bloom-positive residue pays the exact anti-join — so the
    * index side of the join sees a candidate stream shrunk to the
    * true-seen fraction + fpp. Output is EXACTLY the plain probe's
    * (spec-pinned): the sketch's one-sided error can only route a
    * gram into the exact join, never mark it seen. A pre-sketch
    * snapshot (bloom = None) ignores the flag and runs the plain
    * path — the request is an optimization, not a semantics switch.
    */
  def probe(snapshot: Snapshot, newDocs: DataFrame, sourceCol: String,
      textCol: String, n: Int, prefilter: Boolean = false): DataFrame = {
    val newG = sourceGramHashes(newDocs, sourceCol, textCol, n).distinct()
    val total = newG.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_grams"))
    val novelG = snapshot.bloom match {
      case Some(bf) if prefilter =>
        val flagged = bloomFlagged(newG, bf)
        flagged.filter(!col("maybe_seen"))
          .select(col(sourceCol), col("gh"))
          .unionByName(flagged.filter(col("maybe_seen"))
            .select(col(sourceCol), col("gh"))
            .join(snapshot.grams, Seq("gh"), "left_anti"))
      case _ =>
        newG.join(snapshot.grams, Seq("gh"), "left_anti")
          .select(col(sourceCol), col("gh"))
    }
    val novel = novelG.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_novel"))
    total.join(novel, Seq(sourceCol), "left")
      .select(col(sourceCol), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_bp", expr("n_novel * 10000 div n_grams"))
  }

  /** `newG` with a `maybe_seen` column: the sketch's answer for each
    * gh, the filter riding ONE one-row broadcast. False proves the gh
    * novel; true still needs the exact test.
    */
  private def bloomFlagged(newG: DataFrame, bf: Array[Byte]): DataFrame = {
    val s = newG.sparkSession
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    newG.crossJoin(broadcast(Seq(Tuple1(bf)).toDF("graft_bloom")))
      .withColumn("maybe_seen", call_function("graft_bloom_contains",
        col("graft_bloom"), col("gh")))
      .drop("graft_bloom")
  }

  /** The approximate ZERO-JOIN novelty tier — the probe for when the
    * answer gates a decision ("is this crawl worth admitting?") and a
    * bounded undercount is acceptable: per-source novelty from the
    * membership sketch ALONE. One map-side gram pass + one distinct
    * exchange + a |sources|-row rollup; the gram index files are never
    * opened — at 100 TB the daily cost is the crawl's own gram pass
    * plus a KB–MB broadcast, full stop.
    *
    * Error contract (one-sided, from the bloom's one-sided error):
    * a bloom false positive marks a genuinely-novel gram "seen", so
    * `n_novel_lb` is a LOWER BOUND on the exact probe's n_novel —
    * never an overcount — and the deficit is bounded in expectation by
    * fpp × n_grams ([[BloomFpp]] at epoch birth; appends drift it up
    * until compact right-sizes). Columns are suffixed `_lb` so a
    * reader can never mistake the tier for the exact one. Fails
    * loudly on a pre-sketch epoch — silently degrading to the exact
    * join would invert the tier's entire point.
    */
  def probeApprox(snapshot: Snapshot, newDocs: DataFrame,
      sourceCol: String, textCol: String, n: Int): DataFrame = {
    val bf = snapshot.bloom.getOrElse(throw new IllegalStateException(
      s"NoveltyIndex.probeApprox: epoch ${snapshot.epoch} under " +
        s"${snapshot.dir} carries no membership sketch — compact to " +
        "build one, or use probe()"))
    val s = newDocs.sparkSession
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    val bloomDf = Seq(Tuple1(bf)).toDF("graft_bloom")
    sourceGramHashes(newDocs, sourceCol, textCol, n).distinct()
      .crossJoin(broadcast(bloomDf))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(!call_function("graft_bloom_contains",
            col("graft_bloom"), col("gh")), 1L).otherwise(0L))
          .as("n_novel_lb"))
      .withColumn("novelty_bp_lb", expr("n_novel_lb * 10000 div n_grams"))
  }

  /** Probe + admit FUSED for the streaming acquisition loop: one
    * pinned probe pass, one rollup and one write per batch.
    *
    *  1. **Pin.** The batch's distinct (source, gh) pairs flagged
    *     `seen` ([[seenFlagged]]) are materialized ONCE (eager
    *     localCheckpoint — batch-scale by the O(new crawl) contract,
    *     released when the call returns). Every later step reads it.
    *  2. **Rollup.** One `groupBy(source)` over the pin gives `n_grams`
    *     (`count`) and `n_novel` (`count_if(!seen)`). An
    *     [[org.apache.spark.sql.Observation]] on its input aggregates
    *     the batch's bloom row (`graft_bloom_agg` of the unseen gh at
    *     the snapshot sketch's geometry) in the same job — the
    *     `Pipes.counted` mechanism, no job of its own.
    *  3. **Write.** The pin's unseen `distinct gh` goes through
    *     [[Epochs.appendLoop]] from the snapshot's epoch. Into that
    *     epoch it is [[writeAppend]] with the rollup's bloom row and
    *     Σ n_novel, so a warm batch launches no job beyond the staged
    *     write; nothing is written when nothing is novel. If the epoch
    *     advanced (a compaction), the loop re-appends what the new
    *     epoch lacks through [[admitNovel]] — the physical-duplicate
    *     contract makes the write into the stale epoch harmless.
    *
    * Output rows and LOGICAL on-disk state are those of `probe()`
    * followed by `append()` (the delta write is sized from the
    * rollup's Σ n_novel, an upper bound on the distinct novel count,
    * so file sizing may differ — every read path is
    * layout-insensitive):
    *
    *  - the gh set admitted IS `distinct gh` of the pin's unseen
    *    pairs — same snapshot, same exact membership test;
    *  - the bloom row takes the unseen pairs pre-distinct (bit-set
    *    idempotence: bloom(multiset) ≡ bloom(set), byte-identical) at
    *    the snapshot's geometry (every row of an epoch shares (m, k)
    *    by construction).
    *
    * The published bloom files and row are folded into `held`, so the
    * next batch of the same stream reads no sketch; after an epoch
    * advance `held` no longer matches and the next load reads it.
    * Pin, rollup and write each run under a job description naming
    * this call site. Returns the probe's rows (collected —
    * |sources|-scale, KB).
    */
  private[graft] def probeAndAdmit(spark: SparkSession, snapshot: Snapshot,
      batch: DataFrame, sourceCol: String, textCol: String, n: Int,
      prefilter: Boolean, held: HeldSketch = new HeldSketch): Array[Row] = {
    val pinned = described(spark, "pin") {
      seenFlagged(snapshot, batch, sourceCol, textCol, n, prefilter)
        .localCheckpoint(true)
    }
    try {
      val unseen = !col("seen")
      val obs = new org.apache.spark.sql.Observation("novelty_bloom_row")
      val geometry = snapshot.bloom.map(graft.functions.BloomUtil.deserializeWords)
      val observed = geometry.fold(pinned) { case (k, words) =>
        pinned.observe(obs, bloomAgg(spark, when(unseen, col("gh")),
          words.length * 64, k))
      }
      val rows = described(spark, "rollup") {
        observed.groupBy(col(sourceCol))
          .agg(count(lit(1)).as("n_grams"), count_if(unseen).as("n_novel"))
          .withColumn("novelty_bp", expr("n_novel * 10000 div n_grams"))
          .collect()
      }
      val nNovel = rows.iterator.map(_.getLong(2)).sum
      val snapshotDir = Epochs.epochPath(snapshot.dir, snapshot.epoch)
      Epochs.appendLoop(spark, snapshot.dir, snapshot.epoch,
          pinned.filter(unseen).select(col("gh")).distinct(), "gh")(
          epochGrams(spark, _)) { (novel, epochDir) =>
        if (epochDir != snapshotDir) admitNovel(spark)(novel, epochDir)
        else if (nNovel > 0L) {
          val bloomRow = geometry.map(_ => obs.get("bf").asInstanceOf[Array[Byte]])
          val bloomFiles = described(spark, "write") {
            writeAppend(spark, epochDir, bloomRow, novel, nNovel)
          }
          held.admitted(snapshot.epoch, bloomFiles, bloomRow)
        }
      }
      rows
    } finally graft.util.Caches.release(pinned)
  }

  /** The batch's distinct (source, gh) pairs, each flagged `seen` =
    * held by the snapshot's gram set — the frame [[probeAndAdmit]]
    * pins. Bloom-negative pairs get `seen = false` map-side (the
    * sketch has no false negatives); every other pair — all of them
    * with `prefilter = false` or a sketchless snapshot — takes
    * `gh IN (grams)`, which plans as an equi-keyed ExistenceJoin, so
    * duplicate index rows cannot inflate a count. The flag stays
    * positive on purpose: `NOT IN` is null-aware and plans as a
    * BroadcastNestedLoopJoin (SURVEY.md, performance notes).
    */
  private[graft] def seenFlagged(snapshot: Snapshot, batch: DataFrame,
      sourceCol: String, textCol: String, n: Int,
      prefilter: Boolean): DataFrame = {
    val newG = sourceGramHashes(batch, sourceCol, textCol, n).distinct()
    def exact(pairs: DataFrame) = pairs.select(col(sourceCol), col("gh"),
      col("gh").isin(snapshot.grams.select(col("gh"))).as("seen"))
    snapshot.bloom match {
      case Some(bf) if prefilter =>
        val flagged = bloomFlagged(newG, bf)
        flagged.filter(!col("maybe_seen"))
          .select(col(sourceCol), col("gh"), lit(false).as("seen"))
          .unionByName(exact(flagged.filter(col("maybe_seen"))))
      case _ => exact(newG)
    }
  }

  /** Run `body` with its jobs described as this call site's `step`,
    * restoring the caller's description (a stream's own) afterwards.
    */
  private def described[T](spark: SparkSession, step: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"NoveltyIndex.probeAndAdmit $step")
    try body finally sc.setJobDescription(prev)
  }

  /** Write one admitted batch's outputs in ONE job under
    * `<epochDir>/_append-<uuid>/`: the bloom row (when the epoch has a
    * sketch) unioned with the distinct novel grams, partitioned by
    * `part` — the epoch subdirectory each belongs in — into
    * `part=bloom/` and `part=delta/`, as [[filesFor]]`(nNovel)` tasks.
    * Each file carries both data columns, the other one all-null;
    * readers pin one-column schemas and never read it. No reader lists
    * a staging dir, so one a crash leaves behind is never read and is
    * dropped with its epoch. Returns the staging dir.
    */
  private[graft] def stageAppend(spark: SparkSession, epochDir: String,
      bloomRow: Option[Array[Byte]], novelGh: DataFrame, nNovel: Long): String = {
    val staged = s"$epochDir/_append-${java.util.UUID.randomUUID()}"
    val grams = novelGh.select(col("gh"), lit(null).cast("binary").as("bf"),
      lit("delta").as("part"))
    bloomRow.fold(grams) { bf =>
      spark.createDataFrame(java.util.List.of(Row(null, bf, "bloom")),
        StructType.fromDDL("gh BIGINT, bf BINARY, part STRING")).unionByName(grams)
    }.coalesce(filesFor(nNovel)).write.partitionBy("part").parquet(staged)
    staged
  }

  /** One publish step of a staged append: rename the files of its
    * `part=<part>/` into the epoch's `<part>/` (made first). Returns
    * the published file names. [[writeAppend]] publishes `bloom`
    * before `delta`, so a bloom row is visible before its grams: a
    * crash between the two leaves extra bloom bits (bounded fpp
    * drift), never a gram the sketch denies.
    */
  private[graft] def publishStaged(spark: SparkSession, staged: String,
      epochDir: String, part: String): Seq[String] = {
    val fs = fsOf(spark, epochDir)
    val from = new Path(staged, s"part=$part")
    if (!fs.exists(from)) Seq.empty
    else {
      val to = new Path(epochDir, part)
      fs.mkdirs(to)
      fs.listStatus(from).toSeq.map(_.getPath).filter(p => visible(p.getName))
        .map { p =>
          if (!fs.rename(p, new Path(to, p.getName)))
            throw new java.io.IOException(
              s"NoveltyIndex: could not publish $p into $to")
          p.getName
        }
    }
  }

  /** The ONE append write: [[stageAppend]], then [[publishStaged]]
    * `bloom`, then `delta`, then the staging dir goes. Returns the
    * published bloom file names.
    */
  private def writeAppend(spark: SparkSession, epochDir: String,
      bloomRow: Option[Array[Byte]], novelGh: DataFrame,
      nNovel: Long): Seq[String] = {
    val staged = stageAppend(spark, epochDir, bloomRow, novelGh, nNovel)
    val bloomFiles = publishStaged(spark, staged, epochDir, "bloom")
    publishStaged(spark, staged, epochDir, "delta")
    fsOf(spark, staged).delete(new Path(staged), true)
    bloomFiles
  }

  /** Admit a PINNED distinct gh set into `epochDir` — [[appendFrom]]'s
    * write, and [[probeAndAdmit]]'s into an epoch other than its
    * snapshot's (both hand it a localCheckpoint, so the two reads below
    * never re-derive it): ONE job counts the set and observes its bloom
    * row at the target epoch's geometry; then [[writeAppend]]. Nothing
    * is written for an empty set — an all-zero bloom row would be one
    * more file every later load reads and OR-merges.
    */
  private def admitNovel(spark: SparkSession)(novel: DataFrame,
      epochDir: String): Unit = {
    val obs = new org.apache.spark.sql.Observation("novelty_bloom_row")
    val geometry = loadBloom(spark, epochDir)
      .map(graft.functions.BloomUtil.deserializeWords)
    val nNovel = geometry.fold(novel) { case (k, words) =>
      novel.observe(obs, bloomAgg(spark, col("gh"), words.length * 64, k))
    }.count()
    if (nNovel > 0L)
      writeAppend(spark, epochDir,
        geometry.map(_ => obs.get("bf").asInstanceOf[Array[Byte]]),
        novel, nNovel)
  }

  private def visible(name: String) =
    !name.startsWith("_") && !name.startsWith(".")

  /** Names of the data files in an epoch's `bloom/` (one listing;
    * empty when the epoch has no sketch).
    */
  private def bloomFiles(spark: SparkSession, epochDir: String): Set[String] =
    try fsOf(spark, epochDir).listStatus(new Path(bloomPath(epochDir)))
      .iterator.map(_.getPath.getName).filter(visible).toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }

  /** One stream's held sketch: the epoch, its bloom file names and
    * their OR-merge, kept from one batch to the next by
    * [[graft.streaming.Streams.noveltyStream]]. It belongs to that one
    * query; it is not a per-JVM memo. [[load]] reuses it only when
    * `Epochs.current` and one listing of the epoch's `bloom/` equal
    * what it holds — bloom files are never modified after they are
    * written, so equal names mean equal bits — and otherwise reads it
    * with [[loadBloom]]; a new holder is [[NoveltyIndex.load]].
    */
  private[graft] final class HeldSketch {
    private var held: Option[(Long, Set[String], Option[Array[Byte]])] = None

    def load(spark: SparkSession, dir: String): Snapshot = {
      val e = Epochs.current(spark, dir)
      val epochDir = Epochs.epochPath(dir, e)
      val grams = epochGrams(spark, epochDir)
      // listed AFTER the gram files: a delta file the gram read lists
      // had its bloom row published before it, so the listing (and a
      // reload) covers its bits
      val files = bloomFiles(spark, epochDir)
      val bloom = held.collect { case (`e`, `files`, b) => b }
        .getOrElse(loadBloom(spark, epochDir))
      held = Some((e, files, bloom))
      Snapshot(grams, e, dir, bloom)
    }

    private[NoveltyIndex] def admitted(epoch: Long, files: Seq[String],
        row: Option[Array[Byte]]): Unit =
      held = held.collect { case (`epoch`, names, bloom) =>
        (epoch, names ++ files, (bloom ++ row).reduceOption((a, b) =>
          orMerge(Seq(a, b), s"the held sketch of epoch $epoch")))
      }
  }

  /** Admit a crawl: append its NOVEL grams (vs the current epoch) into
    * the current epoch's `delta/` — bucket files are never touched, so
    * an append adds [[filesFor]] of its novel count (one file for a
    * daily crawl), and a crawl with nothing novel adds nothing. Runs
    * through [[Epochs.appendLoop]]: a compaction that raced this append
    * either captured the files in its re-listed rewrite or the loop
    * re-appends into the new epoch the grams it lacks; a duplicate from
    * a retried append is harmless by the physical-duplicate contract.
    */
  def append(spark: SparkSession, newDocs: DataFrame, dir: String,
      textCol: String, n: Int): Unit =
    appendFrom(spark, newDocs, dir, Epochs.current(spark, dir), textCol, n)

  /** [[append]] starting from an already-resolved epoch — exposed for
    * the race spec (simulates an epoch published between resolution
    * and append).
    */
  private[graft] def appendFrom(spark: SparkSession, newDocs: DataFrame,
      dir: String, startEpoch: Long, textCol: String, n: Int): Unit = {
    // pinned (crawl-scale): the loop's re-append after an epoch advance
    // then never re-reads the start epoch, which a second publish may
    // already have retired
    val novel = gramHashes(newDocs, textCol, n).distinct()
      .join(epochGrams(spark, Epochs.epochPath(dir, startEpoch)), Seq("gh"),
        "left_anti")
      .localCheckpoint(true)
    try
      Epochs.appendLoop(spark, dir, startEpoch, novel, "gh")(
        epochGrams(spark, _))(admitNovel(spark))
    finally graft.util.Caches.release(novel)
  }

  /** Rewrite the current epoch's buckets ∪ delta into epoch N+1 —
    * re-distincted (the physical-duplicate contract's restore point),
    * pinned and counted once, re-bucketed to [[filesFor]]`(count)`
    * buckets of one file each, no `delta/` — and publish it through
    * [[Epochs.maintain]]. Probe results are byte-identical
    * before/after (spec-pinned); only the layout changes. The sketch
    * is right-sized from the same pin: appends only ever accrete rows
    * at epoch-birth geometry, so compaction is where fpp drift resets
    * (and where a pre-sketch epoch gains its bloom). Returns the
    * published epoch.
    */
  def compact(spark: SparkSession, dir: String,
      retainEpochs: Int = 1): Long =
    Epochs.maintain(spark, dir, retainEpochs) { (cur, next) =>
      writeEpoch(spark, epochGrams(spark, cur).distinct(), next)
    }
}
