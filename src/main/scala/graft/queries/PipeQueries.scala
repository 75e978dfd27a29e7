package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.pipeline.{MultiPipeline, Pipes}
import graft.ops.AggregatePackage
import graft.util.Tables

/** Streaming-pipe operator coverage (SURVEY.md §2.2) — each query drives
  * the graft.pipeline / graft.ops library and has a DuckDB oracle.
  */
object PipeQueries {

  /** `/bin/cat` identity pipeline over nation. */
  def pipeCat(s: SparkSession, dir: String): DataFrame =
    Pipes.cat(Tables(s, dir).nation).orderBy(col("n_nationkey"))

  val pipeCatSql: String =
    "SELECT * FROM nation ORDER BY n_nationkey"

  /** `grep` mapper over documents.text. */
  def pipeGrep(s: SparkSession, dir: String): DataFrame =
    Pipes.grep("text", "spark")(Tables(s, dir).documents)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  val pipeGrepSql: String =
    """SELECT doc_id, lang FROM documents
      |WHERE regexp_matches(text, 'spark')
      |ORDER BY doc_id""".stripMargin

  /** `sed` + `tr` chained — the remaining two of the reference's
    * canonical line transforms (cat/grep/cut/sed/tr): regex-collapse
    * whitespace, then character-translate vowels; per-doc md5 of the
    * transformed line pins every byte of both transforms against the
    * oracle's identical regexp_replace/translate chain.
    */
  def pipeSedTr(s: SparkSession, dir: String): DataFrame = {
    val piped = Pipes.chain(
      Pipes.sed("text", "\\s+", "_"),
      Pipes.tr("text", "aeiou", "AEIOU"))(
      Tables(s, dir).documents.select(col("doc_id"), col("text")))
    piped.select(col("doc_id"), length(col("text")).as("n_chars_out"),
        md5(encode(col("text"), "UTF-8")).as("md5_hex"))
      .orderBy(col("doc_id"))
  }

  val pipeSedTrSql: String =
    """SELECT doc_id,
      |  length(translate(regexp_replace(text, '\s+', '_', 'g'),
      |                   'aeiou', 'AEIOU')) AS n_chars_out,
      |  md5(translate(regexp_replace(text, '\s+', '_', 'g'),
      |                'aeiou', 'AEIOU')) AS md5_hex
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** `cut -f1,3` over a tab-delimited line built from orders — the
    * round-trip through the reference's text-line world.
    */
  def pipeCut(s: SparkSession, dir: String): DataFrame = {
    val line = Pipes.toLine("\t",
      Seq("o_orderkey", "o_orderstatus", "o_orderpriority"))(Tables(s, dir).orders)
    Pipes.cut("line", "\t", Seq(1, 3))(line)
      .select(col("f1").cast("long").as("o_orderkey"), col("f3").as("priority"))
      .orderBy(col("o_orderkey"))
  }

  val pipeCutSql: String =
    """SELECT o_orderkey, o_orderpriority AS priority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** `/bin/wc` over documents.text (README example 4: `/bin/cat|/bin/wc`). */
  def pipeWc(s: SparkSession, dir: String): DataFrame =
    Pipes.wc("text")(Tables(s, dir).documents)

  val pipeWcSql: String =
    // ::BIGINT — DuckDB sum(INTEGER) yields HUGEINT → Arrow decimal128,
    // which hash-mismatches Spark's int64 even at equal values.
    """SELECT count(*) AS lines,
      |  sum(length(regexp_extract_all(text, '\S+')))::BIGINT AS words,
      |  sum(length(text))::BIGINT AS chars
      |FROM documents""".stripMargin

  /** The escape hatch exercised for real: documents piped through an
    * actual `/bin/grep` child process (one per partition), with the
    * pattern delivered via the environment — the reference's
    * `-mapper grep -cmdenv` shape end-to-end. Ids ride the line
    * (toLine) and are parsed back out (cut), so the result matches the
    * native pipe_grep oracle exactly. The `|| true` wrapper absorbs
    * grep's exit-1-on-no-match (PipedRDD fails tasks on nonzero exit,
    * and some partition may contain no matching doc).
    */
  def pipeExecGrep(s: SparkSession, dir: String): DataFrame = {
    val line = Pipes.toLine("\t", Seq("doc_id", "lang", "text"))(
      Tables(s, dir).documents)
    val piped = Pipes.exec("line",
      Seq("/bin/sh", "-c", "grep \"$GRAFT_PATTERN\" || true"),
      env = Map("GRAFT_PATTERN" -> "spark"))(line)
    Pipes.cut("line", "\t", Seq(1, 2))(piped)
      .select(col("f1").cast("long").as("doc_id"), col("f2").as("lang"))
      .orderBy(col("doc_id"))
  }

  /** Same oracle as pipe_grep: only the text field can contain the
    * pattern (doc_id is numeric, lang is a 2-letter code), so grepping
    * the whole tab-joined line equals grepping text.
    */
  val pipeExecGrepSql: String = pipeGrepSql

  /** Canonical streaming wordcount, top 50 for a stable oracle. */
  def pipeWordcount(s: SparkSession, dir: String): DataFrame =
    Pipes.wordcount("text")(Tables(s, dir).documents)
      .orderBy(col("cnt").desc, col("word"))
      .limit(50)

  val pipeWordcountSql: String =
    """SELECT word, count(*) AS cnt FROM (
      |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
      |  FROM documents
      |) WHERE word <> ''
      |GROUP BY word
      |ORDER BY cnt DESC, word
      |LIMIT 50""".stripMargin

  /** The full legacy-streaming wordcount, every stage a REAL child
    * process: a `tr`-pipeline mapper emits `word\t1` lines, an awk
    * COMBINER partially sums per input partition before the shuffle
    * (the reference's `-combiner`, MapStreamJob.java:779-784 — which
    * only accepted Java classes, so a migrating script pipeline lost
    * its combiner; here the binary itself runs map-side), and the same
    * awk runs as the reducer on the keyed+sorted stream. What crosses
    * the shuffle is one line per (partition, word) instead of one line
    * per word OCCURRENCE — at 100 TB that partial-sum is the job.
    * Matches the native pipe_wordcount oracle exactly.
    */
  def pipeExecCombine(s: SparkSession, dir: String): DataFrame = {
    // mapper: lowercase, one token per line (corpus is ASCII; tr's
    // [:space:] squeeze = the oracle's \s+ split), tag count 1
    val mapper = Seq("/bin/sh", "-c",
      "tr '[:upper:]' '[:lower:]' | tr -s '[:space:]' '\\n' | sed 's/$/\t1/'")
    // combiner == reducer: sum counts per key (classic streaming idiom)
    val sum = Seq("/bin/sh", "-c",
      "awk -F'\\t' '{c[$1] += $2} END {for (k in c) print k \"\\t\" c[k]}'")
    val mapped = Pipes.exec("text", mapper)(
      Tables(s, dir).documents.select(col("text")))
    val reduced = Pipes.execReduce("text", "\t", 1, sum, combiner = sum)(mapped)
    Pipes.cut("text", "\t", Seq(1, 2))(reduced)
      .select(col("f1").as("word"), col("f2").cast("long").as("cnt"))
      .filter(col("word") =!= "")
      .orderBy(col("cnt").desc, col("word"))
      .limit(50)
  }

  val pipeExecCombineSql: String = pipeWordcountSql

  /** Key = first 2 tab-separated fields (stream.num.map.output.key.fields=2,
    * MultiPipeMapper.java:118-125), then a keyed reduce — the reference's
    * KeyFieldBasedPartitioner + reducer shape.
    */
  def pipeKeyfieldAgg(s: SparkSession, dir: String): DataFrame = {
    val line = Pipes.toLine("\t",
      Seq("l_returnflag", "l_linestatus", "l_quantity"))(Tables(s, dir).lineitem)
    Pipes.keyBy("line", "\t", 2)(line)
      .groupBy(col("key"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value").cast("double")), 2).as("sum_qty"))
      .orderBy(col("key"))
  }

  val pipeKeyfieldAggSql: String =
    """SELECT l_returnflag || chr(9) || l_linestatus AS key,
      |  count(*) AS cnt,
      |  round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY key""".stripMargin

  /** Every Aggregate-package reducer in ONE partial+final aggregation. */
  def aggPackage(s: SparkSession, dir: String): DataFrame = {
    import AggregatePackage._
    Tables(s, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        longValueSum("l_orderkey"),
        round(doubleValueSum("l_quantity"), 2).as("dsum_l_quantity"),
        longValueMax("l_partkey"),
        longValueMin("l_partkey"),
        stringValueMax("l_linestatus"),
        stringValueMin("l_linestatus"),
        uniqValueCount("l_suppkey"))
      .orderBy(col("l_returnflag"))
  }

  val aggPackageSql: String =
    """SELECT l_returnflag,
      |  sum(l_orderkey)::BIGINT AS sum_l_orderkey,
      |  round(sum(l_quantity), 2) AS dsum_l_quantity,
      |  max(l_partkey) AS max_l_partkey,
      |  min(l_partkey) AS min_l_partkey,
      |  max(l_linestatus) AS smax_l_linestatus,
      |  min(l_linestatus) AS smin_l_linestatus,
      |  count(DISTINCT l_suppkey) AS uniq_l_suppkey
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** The skew-proof spelling of UniqValueCount: shuffle on
    * (key, value), not key — same exact answer as agg_package's
    * `uniq_l_suppkey` column, different (Zipf-immune) plan.
    */
  def aggDistinctTwophase(s: SparkSession, dir: String): DataFrame =
    AggregatePackage.uniqValueCountTwoPhase(
        Tables(s, dir).lineitem, "l_returnflag", "l_suppkey")
      .orderBy(col("l_returnflag"))

  val aggDistinctTwophaseSql: String =
    """SELECT l_returnflag, count(DISTINCT l_suppkey) AS uniq_l_suppkey
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** The bounded-state sketch family at corpus scale, alongside
    * agg_heavy_hitters' SpaceSaving: HyperLogLog++ distinct counts and
    * GK approximate quantiles per group — constant state through the
    * shuffle where their exact twins (distinct expansion / full sort)
    * scale with the data. Rows-only for the driver (sketch estimates
    * have no SQL twin); relative-error floors are spec-asserted
    * against the exact answers.
    */
  def aggSketches(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_suppkey"), rsd = 0.02).as("approx_suppliers"),
        round(element_at(
          percentile_approx(col("l_quantity"), array(lit(0.5), lit(0.95)),
            lit(10000)), 1), 2).as("p50_qty"),
        round(element_at(
          percentile_approx(col("l_quantity"), array(lit(0.5), lit(0.95)),
            lit(10000)), 2), 2).as("p95_qty"))
      .orderBy(col("l_returnflag"))

  /** Pre-aggregated sketch ROLLUP — the production pattern agg_sketches
    * only hints at: a daily job persists one HLL sketch per
    * (day, event_type) partition, and any later date-range distinct
    * query merges the stored sketches (`hll_union_agg`) WITHOUT
    * touching the raw events again. At 100 TB this is the difference
    * between re-scanning a year of history per dashboard query and
    * reading |days|×|types| KB-sized sketch rows: sketches are the
    * only distinct-count state that is both constant-size AND mergeable
    * after the fact (exact distinct can't be rolled up from per-day
    * exact counts). The sketch table is written partitioned by day, so
    * the range filter prunes partitions at the scan (the
    * source_partitioned contract); the query here rolls up the last
    * half of the day range. The day bounds come from the KB-scale
    * SKETCH table (|days|×|types| rows — every day with events has a
    * row), NOT a second corpus scan, and stay a driver-side literal
    * deliberately: a literal midpoint is what static partition pruning
    * needs (an in-plan broadcast fold would demote the pruned scan to
    * a post-filter full read — spec-pinned the other way). Rows-only:
    * DuckDB has no datasketches-compatible HLL;
    * PipeSpec pins sparse-mode exactness (lossless below the sketch's
    * coupon capacity), a 2% relative-error bound vs exact at corpus
    * scale, rerun determinism, and the partition-pruned scan.
    */
  def aggHllRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir).events.withColumn("day", to_date(col("ts")))
    val stage = graft.util.Staging.dir(s, "hll_daily")
    ev.groupBy(col("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("n_events"))
      .write.mode("overwrite").partitionBy("day").parquet(stage)
    val bounds = s.read.parquet(stage)
      .agg(min(col("day")), max(col("day"))).collect()(0)
    val mid = java.time.LocalDate.ofEpochDay(
      bounds.getDate(0).toLocalDate.toEpochDay +
        (bounds.getDate(1).toLocalDate.toEpochDay -
          bounds.getDate(0).toLocalDate.toEpochDay) / 2)
    s.read.parquet(stage)
      .where(col("day") > lit(java.sql.Date.valueOf(mid)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n_events")).as("n_events"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
      .orderBy(col("event_type"))
  }

  /** Exact distinct counts via segment BITMAPS (Spark 4 builtins): keys
    * bucket into 32768-bit segments (`bitmap_bucket_number`), each
    * (group, segment) partial-aggregates into a ≤ 4 KB bitmap, and the
    * group's distinct count is the sum of segment popcounts. Same
    * skew-proof shuffle key shape as agg_distinct_twophase — (group,
    * segment) is uniform even when the group is hot — but the shuffle
    * carries CONSTANT-size bitmaps instead of one row per distinct
    * value: for dense integer keys this is the cheapest exact-distinct
    * at 100 TB (HLL when ±2% is tolerable, bitmaps when it isn't).
    * Requires a 1-based key domain (the builtins' convention; TPC-H
    * keys are). Non-integral value columns are rejected at build time
    * by AggregatePackage.bitmapDistinct with the right alternative
    * named (spec-gated).
    */
  def aggBitmapDistinct(s: SparkSession, dir: String): DataFrame =
    AggregatePackage.bitmapDistinct(
        Tables(s, dir).lineitem, "l_returnflag", "l_suppkey")
      .orderBy(col("l_returnflag"))

  val aggBitmapDistinctSql: String =
    """SELECT l_returnflag, count(DISTINCT l_suppkey) AS uniq_l_suppkey
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Exact audience-overlap matrix (|A|, |B|, |A∩B|, Jaccard for every
    * event-type pair) via bitmap SET ALGEBRA — the segment-bitmap idea
    * of agg_bitmap_distinct extended from counting to intersection.
    * The naive exact form self-joins the (type, user) distinct table on
    * user_id — shuffle rows ∝ Σ|audience| and a hot user fans
    * quadratically. Here each (type, 32768-key segment) partial-
    * aggregates into a ≤ 4 KB bitmap; intersections ride a seg-aligned
    * equi-join (≤ |types| rows per seg, uniform by construction) and
    * the native `graft_bitmap_and_count` folds AND + popcount without
    * materializing an intermediate bitmap. Wire bytes are
    * O(|types| · keyspace ∕ 8) CONSTANTS, independent of event count.
    * Pairs whose audiences never share a segment still surface
    * (users_both = 0) because the pair frame is built from the KB-scale
    * totals table and the intersections are left-joined onto it. The
    * seg table is shared by three consumers via lazy localCheckpoint
    * (the narrow-index pattern; released in finally).
    */
  def aggBitmapOps(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir).events.select(col("event_type"), col("user_id"))
    val segs = ev
      .groupBy(col("event_type"),
        call_function("bitmap_bucket_number", col("user_id")).as("seg"))
      .agg(call_function("bitmap_construct_agg",
        call_function("bitmap_bit_position", col("user_id"))).as("bm"))
      .localCheckpoint(false)
    // the three consumers all feed one result; materialize it eagerly
    // so the checkpoint blocks can be released before returning
    try assembleOverlap(segs).localCheckpoint(true)
    finally graft.util.Caches.release(segs)
  }

  /** The overlap assembly over a (event_type, seg, bm) bitmap table —
    * separate from [[aggBitmapOps]] so PlanSpec can pin the join shape
    * (the query itself returns an eager checkpoint, which hides the
    * plan behind a LogicalRDD scan).
    */
  private[graft] def assembleOverlap(segs: DataFrame): DataFrame = {
    val totals = segs.groupBy(col("event_type"))
      .agg(sum(call_function("bitmap_count", col("bm"))).as("nu"))
    val inter = segs.as("a")
      .join(segs.as("b"), col("a.seg") === col("b.seg")
        && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(sum(ColumnBridge.column(graft.functions.BitmapAndCount(
        ColumnBridge.expression(col("a.bm")),
        ColumnBridge.expression(col("b.bm"))))).as("n_both"))
    val pairs = totals.as("ta")
      .join(totals.as("tb"), col("ta.event_type") < col("tb.event_type"))
      .select(col("ta.event_type").as("type_a"),
        col("tb.event_type").as("type_b"),
        col("ta.nu").as("users_a"), col("tb.nu").as("users_b"))
    pairs.join(inter, Seq("type_a", "type_b"), "left")
      .withColumn("users_both", coalesce(col("n_both"), lit(0L)))
      .select(col("type_a"), col("type_b"), col("users_a"), col("users_b"),
        col("users_both"),
        (floor(col("users_both")
          / (col("users_a") + col("users_b") - col("users_both"))
          * 10000 + 0.5).cast("double") / 10000).as("jaccard"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val aggBitmapOpsSql: String =
    """WITH au AS (
      |  SELECT DISTINCT event_type, user_id FROM events),
      |t AS (
      |  SELECT event_type, count(*) AS nu FROM au GROUP BY event_type),
      |i AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    count(*) AS n_both
      |  FROM au a JOIN au b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY type_a, type_b)
      |SELECT ta.event_type AS type_a, tb.event_type AS type_b,
      |  ta.nu AS users_a, tb.nu AS users_b,
      |  coalesce(i.n_both, 0) AS users_both,
      |  floor(coalesce(i.n_both, 0)::DOUBLE
      |        / (ta.nu + tb.nu - coalesce(i.n_both, 0))
      |        * 10000 + 0.5) / 10000 AS jaccard
      |FROM t ta
      |JOIN t tb ON ta.event_type < tb.event_type
      |LEFT JOIN i ON i.type_a = ta.event_type AND i.type_b = tb.event_type
      |ORDER BY type_a, type_b""".stripMargin

  /** Count-Min frequency estimation closing the sketch family: Spark
    * ships the `count_min_sketch` builder aggregate (constant-size
    * state, merges through the shuffle) but no SQL-side reader — the
    * native `graft_cms_estimate` point-queries the broadcast one-row
    * sketch per key. At this width (ε=1e-4 → w=20000) against 5 distinct
    * event types the estimate is provably-whp exact, so the oracle
    * pins est == exact; the ε·N overestimate bound under forced
    * collisions (tiny width) is gated in FunctionsSpec.
    */
  def aggCountmin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir).events
    val sketch = ev.agg(
      expr("count_min_sketch(event_type, 0.0001d, 0.999d, 42)").as("cms"))
    ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(sketch))
      .select(col("event_type"), col("n_exact"),
        ColumnBridge.column(graft.functions.CmsEstimate(
          ColumnBridge.expression(col("cms")),
          ColumnBridge.expression(col("event_type")))).as("n_est"))
      .orderBy(col("event_type"))
  }

  val aggCountminSql: String =
    """SELECT event_type, count(*) AS n_exact, count(*) AS n_est
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Tail percentiles (p50/p95/p99) per group — the library entry.
    * The DEFAULT is the production-safe path: GK `approx_percentile`
    * keeps constant state per partition. `exact = true` switches to
    * Spark's `percentile` (linear interpolation, same definition as
    * DuckDB `quantile_cont`) — a TypedImperativeAggregate that buffers
    * the GROUP'S values as a value→count map. The scale hazard of the
    * exact path is NOT key cardinality — it is group SIZE: a
    * LOW-cardinality key (here: 3 return flags) over a 100 TB column
    * funnels the whole column's distinct values into 3 final-task
    * buffers, which OOMs long before it is slow. The exact variant
    * exists to VALIDATE the sketch's error on bounded inputs, and a
    * caller must now ASK for it — reaching for "percentiles" gets the
    * sketch (accuracy knob: ±1/accuracy quantile error).
    */
  def tailPercentiles(df: DataFrame, valueCol: String, groupCol: String,
      exact: Boolean = false, accuracy: Int = 10000): DataFrame = {
    def q(frac: Double): org.apache.spark.sql.Column =
      if (exact) expr(s"percentile($valueCol, ${frac}D)")
      else expr(s"approx_percentile($valueCol, ${frac}D, $accuracy)")
    df.groupBy(col(groupCol))
      .agg(
        round(q(0.5), 4).as("p50"),
        round(q(0.95), 4).as("p95"),
        round(q(0.99), 4).as("p99"),
        count(lit(1)).as("n"))
      .orderBy(col(groupCol))
  }

  /** Oracle validator: exact percentiles, bounded inputs only (the
    * quantile_cont twin DuckDB can replay).
    */
  def aggPercentiles(s: SparkSession, dir: String): DataFrame =
    tailPercentiles(Tables(s, dir).lineitem, "l_extendedprice",
      "l_returnflag", exact = true)

  val aggPercentilesSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
      |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Equi-depth histogram: quartile BOUNDARIES from ONE percentile pass
    * (small: 3 doubles), bucket assignment + per-bucket stats from a
    * second scan with the boundaries broadcast — no global sort, no
    * single-partition ntile. Boundaries are rounded to 4 decimals on
    * BOTH sides before comparing, so a last-ulp interpolation difference
    * between engines can't flip a row across a bucket edge.
    *
    * `exactBounds = false` is the PRODUCTION default at scale: GK
    * `approx_percentile` keeps constant state per partition, where the
    * exact `percentile` buffer holds the column's full value-count map
    * and merges it in a single final task — OOM territory at 100 TB.
    * The exact variant exists to VALIDATE the sketch against the DuckDB
    * oracle on bounded inputs (same split as agg_sketches vs
    * agg_percentiles). Either way the three quartiles come from one
    * aggregate buffer (`percentile(p, array(…))`), not three.
    */
  def equidepthHistogram(li0: DataFrame, exactBounds: Boolean = false): DataFrame = {
    // scan-parallelism floor (graft.util.Fanout doc): both percentile
    // passes are partial-aggregated MAP-side, and a single-row-group
    // input runs each partial on one core; no-op at scale
    val li = graft.util.Fanout.ensure(li0)
    val fractions = "array(0.25D, 0.5D, 0.75D)"
    val qs =
      if (exactBounds) expr(s"percentile(p, $fractions)")
      else expr(s"approx_percentile(p, $fractions, 10000)")
    val bounds = li.agg(qs.as("qs")).select(
      round(element_at(col("qs"), 1), 4).as("q1"),
      round(element_at(col("qs"), 2), 4).as("q2"),
      round(element_at(col("qs"), 3), 4).as("q3"))
    li.crossJoin(broadcast(bounds))
      .select(col("p"),
        when(col("p") > col("q3"), 3).when(col("p") > col("q2"), 2)
          .when(col("p") > col("q1"), 1).otherwise(0).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("p")), 2).as("min_p"),
        round(max(col("p")), 2).as("max_p"),
        round(sum(col("p")), 2).as("sum_p"))
      .orderBy(col("bucket"))
  }

  /** Oracle validator: exact boundaries, bounded inputs only. */
  def aggEquidepth(s: SparkSession, dir: String): DataFrame =
    equidepthHistogram(
      Tables(s, dir).lineitem.select(col("l_extendedprice").as("p")),
      exactBounds = true)

  val aggEquidepthSql: String =
    """WITH b AS (
      |  SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
      |    round(quantile_cont(l_extendedprice, 0.5), 4) AS q2,
      |    round(quantile_cont(l_extendedprice, 0.75), 4) AS q3
      |  FROM lineitem)
      |SELECT CASE WHEN l_extendedprice > q3 THEN 3
      |            WHEN l_extendedprice > q2 THEN 2
      |            WHEN l_extendedprice > q1 THEN 1 ELSE 0 END AS bucket,
      |  count(*) AS n,
      |  round(min(l_extendedprice), 2) AS min_p,
      |  round(max(l_extendedprice), 2) AS max_p,
      |  round(sum(l_extendedprice), 2) AS sum_p
      |FROM lineitem, b
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** ValueHistogram reducer over events: per event_type, stats of the
    * per-user frequency distribution.
    */
  def aggHistogram(s: SparkSession, dir: String): DataFrame =
    AggregatePackage.valueHistogram(Tables(s, dir).events, "event_type", "user_id")
      .orderBy(col("event_type"))

  val aggHistogramSql: String =
    """SELECT event_type,
      |  count(*) AS n_unique,
      |  min(vcnt) AS min_cnt,
      |  round(quantile_cont(vcnt, 0.5), 4) AS median_cnt,
      |  max(vcnt) AS max_cnt,
      |  round(avg(vcnt), 4) AS avg_cnt,
      |  round(coalesce(stddev_pop(vcnt), 0.0), 4) AS std_cnt
      |FROM (
      |  SELECT event_type, user_id, count(*) AS vcnt
      |  FROM events GROUP BY event_type, user_id
      |)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** The headline feature: one input fanned to three pipelines in one
    * logical pass (README: -multiple "dir1|m1|r1" -multiple "dir2|m2|r2").
    * Summary = tagged union of each branch's aggregate, mirroring the
    * per-branch output dirs.
    */
  def multiFanout(s: SparkSession, dir: String): DataFrame = {
    val branches = MultiPipeline(Tables(s, dir).orders)
      .branch("high_value") {
        _.filter(col("o_totalprice") > 150000.0)
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice")), 2).as("total"))
          .select(lit("high_value").as("branch"), col("n_rows"), col("total"))
      }
      .branch("by_status") {
        _.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_rows"))
          .agg(count(lit(1)).as("n_rows"), lit(null).cast("double").as("total"))
          .select(lit("by_status").as("branch"), col("n_rows"), col("total"))
      }
      .branch("recent") {
        _.filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice")), 2).as("total"))
          .select(lit("recent").as("branch"), col("n_rows"), col("total"))
      }
      .run()
    branches.values.reduce(_ unionByName _).orderBy(col("branch"))
  }

  val multiFanoutSql: String =
    """SELECT 'high_value' AS branch, count(*) AS n_rows,
      |       round(sum(o_totalprice), 2) AS total
      |FROM orders WHERE o_totalprice > 150000.0
      |UNION ALL
      |SELECT 'by_status', count(*), NULL FROM
      |  (SELECT o_orderstatus FROM orders GROUP BY o_orderstatus)
      |UNION ALL
      |SELECT 'recent', count(*), round(sum(o_totalprice), 2)
      |FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      |ORDER BY branch""".stripMargin

  /** The same fan-out driven through the `-multiple` spec-string front
    * end: spec strings name registry stages (the migration path for a
    * user's rewritten mapper/reducer scripts), and the branch set must
    * equal multi_fanout's — same oracle.
    */
  def multiSpec(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.MultiSpec
    val registry: MultiSpec.Registry = Map(
      "agg_high_value" ->
        (_.filter(col("o_totalprice") > 150000.0)
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice")), 2).as("total"))
          .select(lit("high_value").as("branch"), col("n_rows"), col("total"))),
      "agg_by_status" ->
        (_.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_rows"))
          .agg(count(lit(1)).as("n_rows"), lit(null).cast("double").as("total"))
          .select(lit("by_status").as("branch"), col("n_rows"), col("total"))),
      "agg_recent" ->
        (_.filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice")), 2).as("total"))
          .select(lit("recent").as("branch"), col("n_rows"), col("total"))))
    val branches = MultiSpec.pipeline(Tables(s, dir).orders, "line", Seq(
        "high_value|agg_high_value|NONE",
        "by_status|agg_by_status|NONE",
        "recent|agg_recent|NONE"), registry)
      .run()
    branches.values.reduce(_ unionByName _).orderBy(col("branch"))
  }

  val multiSpecSql: String = multiFanoutSql

  /** PartitionByKeyField.java:8 — output partitioned by key into per-key
    * directories. Spark-first: `write.partitionBy(key)`; verified by
    * round-tripping through a partitioned parquet tree and re-aggregating.
    */
  def partitionByKey(s: SparkSession, dir: String): DataFrame =
    // per-run staging dir: shared-FS-visible, collision-free per run
    partitionByKeyTo(s, dir, graft.util.Staging.dir(s, "partition_by_key"))

  def partitionByKeyTo(s: SparkSession, dir: String, out: String): DataFrame = {
    Tables(s, dir).orders
      // co-locate each key before the partitioned write: without this every
      // task opens a writer per key value (tasks × keys small files); with
      // it, one file per key — the standard partitionBy write pattern
      .repartition(col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    s.read.parquet(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus"))
  }

  val partitionByKeySql: String =
    """SELECT o_orderstatus, count(*) AS n_rows,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** `-inputtagged` (MapStreamJob option surface): tag each record with
    * its source input, then reduce over the tagged union.
    */
  def inputTagged(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    val a = t.orders.select(lit("orders").as("src"),
      col("o_totalprice").as("amount"))
    val b = t.lineitem.select(lit("lineitem").as("src"),
      col("l_extendedprice").as("amount"))
    a.unionByName(b)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("amount")), 2).as("total"))
      .orderBy(col("src"))
  }

  val inputTaggedSql: String =
    """SELECT src, count(*) AS n_rows, round(sum(amount), 2) AS total FROM (
      |  SELECT 'orders' AS src, o_totalprice AS amount FROM orders
      |  UNION ALL
      |  SELECT 'lineitem', l_extendedprice FROM lineitem
      |)
      |GROUP BY src
      |ORDER BY src""".stripMargin

  /** SpaceSaving heavy hitters over the corpus vocabulary — the
    * bounded-state sketch answer to "top words at 100 TB" (exact
    * wordcount shuffles every word; the sketch ships `capacity` slots
    * per partition). Capacity 100 exceeds the corpus vocabulary, so
    * the sketch is provably exact here (err = 0) and the oracle is the
    * plain GROUP BY top-20.
    */
  def aggHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir).documents
      .select(explode(graft.text.TextOps.tokens(col("text"))).as("word"))
      .agg(ColumnBridge.column(graft.functions.HeavyHitters(
        ColumnBridge.expression(col("word")), 100).toAggregateExpression())
        .as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("item"), col("e.cnt").as("cnt"), col("e.err").as("err"))
      .orderBy(col("cnt").desc, col("item"))
      .limit(20)
  }

  val aggHeavyHittersSql: String =
    """SELECT word AS item, count(*) AS cnt, 0 AS err FROM (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |                            x -> x <> '')) AS word
      |  FROM documents)
      |GROUP BY word
      |ORDER BY cnt DESC, item
      |LIMIT 20""".stripMargin

  /** The reference's native input format is text lines (-inputformat
    * TextInputFormat). Round-trip the corpus through a line-oriented
    * source: write documents as raw text, read them back with
    * spark.read.text, aggregate. Valid because the corpus is
    * newline-free — one doc per line, the Hadoop Streaming record model.
    */
  def sourceTextfile(s: SparkSession, dir: String): DataFrame = {
    val out = graft.util.Staging.dir(s, "text_source")
    Tables(s, dir).documents.select(col("text"))
      .write.mode("overwrite").text(out)
    Pipes.wc("value")(s.read.text(out))
  }

  val sourceTextfileSql: String =
    """SELECT count(*) AS lines,
      |  sum(length(regexp_extract_all(text, '\S+')))::BIGINT AS words,
      |  sum(length(text))::BIGINT AS chars
      |FROM documents""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_cat" -> (pipeCat _),
    "pipe_grep" -> (pipeGrep _),
    "pipe_sed_tr" -> (pipeSedTr _),
    "pipe_exec_grep" -> (pipeExecGrep _),
    "pipe_exec_combine" -> (pipeExecCombine _),
    "pipe_cut" -> (pipeCut _),
    "pipe_wc" -> (pipeWc _),
    "pipe_wordcount" -> (pipeWordcount _),
    "pipe_keyfield_agg" -> (pipeKeyfieldAgg _),
    "agg_package" -> (aggPackage _),
    "agg_distinct_twophase" -> (aggDistinctTwophase _),
    "agg_sketches" -> (aggSketches _),
    "agg_hll_rollup" -> (aggHllRollup _),
    "agg_countmin" -> (aggCountmin _),
    "agg_bitmap_distinct" -> (aggBitmapDistinct _),
    "agg_bitmap_ops" -> (aggBitmapOps _),
    "agg_percentiles" -> (aggPercentiles _),
    "agg_equidepth" -> (aggEquidepth _),
    "agg_histogram" -> (aggHistogram _),
    "multi_fanout" -> (multiFanout _),
    "multi_spec" -> (multiSpec _),
    "partition_by_key" -> (partitionByKey _),
    "input_tagged" -> (inputTagged _),
    "source_textfile" -> (sourceTextfile _),
    "agg_heavy_hitters" -> (aggHeavyHitters _))

  val oracleSql: Map[String, String] = Map(
    "pipe_cat" -> pipeCatSql,
    "pipe_grep" -> pipeGrepSql,
    "pipe_sed_tr" -> pipeSedTrSql,
    "pipe_exec_grep" -> pipeExecGrepSql,
    "pipe_exec_combine" -> pipeExecCombineSql,
    "pipe_cut" -> pipeCutSql,
    "pipe_wc" -> pipeWcSql,
    "pipe_wordcount" -> pipeWordcountSql,
    "pipe_keyfield_agg" -> pipeKeyfieldAggSql,
    "agg_package" -> aggPackageSql,
    "agg_distinct_twophase" -> aggDistinctTwophaseSql,
    "agg_countmin" -> aggCountminSql,
    "agg_bitmap_distinct" -> aggBitmapDistinctSql,
    "agg_bitmap_ops" -> aggBitmapOpsSql,
    "agg_percentiles" -> aggPercentilesSql,
    "agg_equidepth" -> aggEquidepthSql,
    "agg_histogram" -> aggHistogramSql,
    "multi_fanout" -> multiFanoutSql,
    "multi_spec" -> multiSpecSql,
    "partition_by_key" -> partitionByKeySql,
    "input_tagged" -> inputTaggedSql,
    "source_textfile" -> sourceTextfileSql,
    "agg_heavy_hitters" -> aggHeavyHittersSql)
}
