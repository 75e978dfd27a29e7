package graft

import graft.queries.{CurationQueries, Relational, SimQueries, StreamQueries}
import org.apache.spark.graftspec.TestBus

/** Physical-plan shape assertions: the scale claims in the Scaladoc
  * (broadcast here, WindowGroupLimit there, pushdown everywhere) are
  * cheap to regress silently — a changed join hint or a new column
  * reference flips the plan without failing any value-level test.
  * These specs pin the load-bearing plan features.
  */
class PlanSpec extends SparkSpec {

  test("Fanout.ensure floors a DataSource V2 read's scan parallelism " +
      "without launching a job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val dir = java.nio.file.Files.createTempDirectory("graft-fanout-v2").toString
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(dir)
    val key = "spark.sql.sources.useV1SourceList"
    val prior = spark.conf.getOption(key)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.conf.set(key, "")
    try {
      val df = spark.read.parquet(dir)
      assert(df.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r
      }.nonEmpty, "control: the read must resolve through DataSource V2")
      TestBus.drain(sc)
      sc.addSparkListener(listener)
      val out =
        try graft.util.Fanout.ensure(df)
        finally { TestBus.drain(sc); sc.removeSparkListener(listener) }
      assert(jobs.get() === 0, "ensure must read the split count job-free")
      assert(out.rdd.getNumPartitions === sc.defaultParallelism)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("n-gram shingles plan the native Ngrams kernel, no higher-order " +
      "function") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
    import org.apache.spark.sql.functions.{col, concat, lit}
    // a range scan, not a local relation: ConvertToLocalRelation would
    // fold a local projection away and hide whatever it contained
    val docs = spark.range(4).select(col("id"),
      concat(lit("the cat sat on the mat "), col("id").cast("string")).as("text"))
    def plans(df: DataFrame)(p: Expression => Boolean): Boolean =
      df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(p)))
    val shinglers = Seq(
      "MinHashLSH.shingled" -> graft.dedup.MinHashLSH.shingled(docs, "id", "text", 3),
      "NoveltyIndex.gramHashes" -> graft.dedup.NoveltyIndex.gramHashes(docs, "text", 3),
      "TextOps.charNgrams" -> docs.select(graft.text.TextOps.charNgrams(col("text"), 3)),
      "BigramLm.bigramsAll" -> docs.select(graft.text.BigramLm.bigramsAll(
        graft.text.BigramLm.charsOf(col("text")))))
    shinglers.foreach { case (name, df) =>
      assert(!plans(df)(_.isInstanceOf[HigherOrderFunction]),
        s"$name plans a higher-order function:\n" + df.queryExecution.optimizedPlan)
      assert(plans(df)(_.isInstanceOf[graft.functions.Ngrams]),
        s"$name does not plan the Ngrams kernel:\n" + df.queryExecution.optimizedPlan)
    }
  }

  test("sample_stratified pushes partial top-k before the exchange") {
    val plan = planOf(CurationQueries.sampleStratified(spark, sf))
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("q_crawl_novelty_probe: novelty rides one equi-keyed existence " +
      "join against the SAVED gram index — the old corpus text is never " +
      "re-derived") {
    import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
    import org.apache.spark.sql.catalyst.plans.ExistenceJoin
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = CurationQueries.qCrawlNoveltyProbe(spark, sf)
    val probe = planOf(df)
    assert(!probe.contains("CartesianProduct"), probe.take(800))
    assert(!probe.contains("LeftAnti"), probe.take(1200))
    val existence = df.queryExecution.optimizedPlan.collect {
      case j @ Join(_, _, ExistenceJoin(_), _, _) => j
    }
    assert(existence.size === 1 &&
      existence.forall(j => ExtractEquiJoinKeys.unapply(j).exists(_._2.nonEmpty)),
      "the seen-set membership test must compile to ONE equi-keyed " +
        s"existence join:\n${df.queryExecution.optimizedPlan}")
    assert(probe.contains("novelty_index"),
      "the build side must scan the persisted index files")
    // scan accounting: the validator reads the recrawl branches once
    // (v - 1 scans) plus ONE old-corpus gram derivation; the probe
    // reads the recrawl branches TWICE — the bloom-negative branch and
    // the bloom-positive residue each consume the new side (the
    // deliberate trade documented on probe(): re-deriving the
    // crawl-scale side beats distinct-exchanging or caching the
    // corpus-scale index) — and the old-corpus derivation NOWHERE
    def docScans(plan: String) =
      "documents\\.parquet".r.findAllIn(plan).size
    val validatorScans =
      docScans(planOf(CurationQueries.qCrawlNovelty(spark, sf)))
    assert(docScans(probe) === 2 * (validatorScans - 1),
      s"probe scans documents ${docScans(probe)}x vs validator " +
        s"${validatorScans}x — expected exactly two recrawl-branch " +
        "derivations and NO old-corpus scan:\n" + probe.take(1200))
  }

  test("mix_sources joins the recipe by broadcast, never a shuffle") {
    val plan = planOf(CurationQueries.mixSources(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      "a 4-row recipe must not repartition the corpus")
  }

  test("sample_shard plans one aggregation exchange over map-side hashing") {
    val plan = planOf(CurationQueries.sampleShard(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected exactly one exchange:\n${plan.take(800)}")
  }

  test("agg_bitmap_distinct shuffles (group, segment) bitmaps, not value rows") {
    val plan = planOf(graft.queries.PipeQueries.aggBitmapDistinct(spark, sf))
    // partial bitmap_construct_agg must run before its exchange: the
    // wire carries <=4KB segment bitmaps, not one row per distinct value
    val i = plan.indexOf("partial_bitmap_construct_agg")
    val j = plan.indexOf("Exchange hashpartitioning")
    assert(i >= 0 && j >= 0 && i > j, // plan prints top-down: partial BELOW exchange
      plan.take(1200))
    assert(!plan.contains("Expand"), "no distinct expansion")
  }

  test("stream_latest rank compiles to WindowGroupLimit") {
    val plan = planOf(StreamQueries.streamLatest(spark, sf))
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("q_window rank filter compiles to WindowGroupLimit before the cumsum") {
    val plan = planOf(Relational.qWindow(spark, sf))
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("stream_enrich joins the dimension side by broadcast") {
    val plan = planOf(StreamQueries.streamEnrich(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("q_filter_project reaches the scan with pushed filters and pruned schema") {
    val plan = planOf(Relational.qFilterProject(spark, sf))
    assert(plan.contains("PushedFilters: ["), plan.take(800))
    assert(!plan.contains("PushedFilters: []"), "filters must actually push")
  }

  test("knn_brute broadcasts the query side, not the corpus") {
    val plan = planOf(SimQueries.knnBrute(spark, sf))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(800))
  }

  test("knn_pq: ADC pass scores codes; float vectors only behind equi-joins") {
    val plan = planOf(SimQueries.knnPq(spark, sf))
    // exactly ONE non-equi join — the broadcast-queries × codes ADC
    // pass (narrow rows: id + m ints + the gather sum). The re-rank
    // joins are equi (query_id / neighbor_id), so a second
    // BroadcastNestedLoopJoin would mean decoded vectors met a
    // cartesian-class join — the scale-killer this spec pins against
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj === 1, s"expected exactly 1 non-equi (ADC) join, got $bnlj:\n" +
      plan.take(800))
    assert(plan.toLowerCase.contains("pqadcsum"),
      "ADC gather kernel missing from the plan")
    assert(plan.contains("WindowGroupLimit"),
      "shortlist top-k must push a partial group limit before its exchange")
  }

  test("knn_ivfpq: ADC candidates ride an equi-join on cell, no cartesian") {
    val plan = planOf(SimQueries.knnIvfPq(spark, sf))
    // the whole point of IVFADC over flat ADC: the codes side is keyed
    // by cell, so NO non-equi join survives anywhere in the plan — the
    // probe join, shortlist, and re-rank are all equi/broadcast-hash
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "cell probing must never plan a cartesian-class join:\n" + plan.take(800))
    assert(plan.toLowerCase.contains("pqadcsum"),
      "ADC gather kernel missing from the plan")
    assert(plan.contains("WindowGroupLimit"),
      "shortlist top-k must push a partial group limit before its exchange")
  }

  test("dedup_embedding_cell: candidates ride an equi-join on cell, no cartesian") {
    val plan = planOf(graft.queries.DedupQueries.dedupEmbeddingCell(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "cell blocking must never plan a cartesian-class join:\n" + plan.take(800))
  }

  test("knn_graph_cell: graph candidates ride an equi-join on cell, no cartesian") {
    val plan = planOf(SimQueries.knnGraphCell(spark, sf))
    // both sides are the corpus — nothing may broadcast-nest or go
    // cartesian; the candidate join must key on cell, and the per-query
    // top-k must push a partial group limit ahead of its exchange
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "graph blocking must never plan a cartesian-class join:\n" + plan.take(800))
    assert(plan.contains("WindowGroupLimit"),
      "graph top-k must compile to WindowGroupLimit")
  }

  test("knn_classify_cell: votes ride the cell equi-join graph, no cartesian") {
    val plan = planOf(SimQueries.knnClassifyCell(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "the classify scale twin must never plan a cartesian-class join:\n" +
        plan.take(800))
    assert(plan.contains("WindowGroupLimit"),
      "the per-query candidate top-k must compile to WindowGroupLimit")
  }

  test("agg_bitmap_ops: intersections ride an equi-join on seg, never a cartesian") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val ev = graft.util.Tables(spark, sf).events
      .select(col("event_type"), col("user_id"))
    val segs = ev.groupBy(col("event_type"),
        call_function("bitmap_bucket_number", col("user_id")).as("seg"))
      .agg(call_function("bitmap_construct_agg",
        call_function("bitmap_bit_position", col("user_id"))).as("bm"))
    val plan = planOf(graft.queries.PipeQueries.assembleOverlap(segs))
    assert(!plan.contains("CartesianProduct"),
      "the bitmap self-join must key on seg:\n" + plan.take(1200))
    // the fused AND+popcount must sit inside the aggregate, not a
    // post-join projection of materialized intermediate bitmaps
    assert(plan.contains("graft_bitmap_and_count"), plan.take(1200))
  }

  test("emb_pca projection is map-side — no join, no aggregate in the scoring plan") {
    val plan = planOf(SimQueries.embPca(spark, sf))
    assert(plan.contains("graft_pca_project"), plan.take(800))
    assert(!plan.contains("Join"), "projection must not join:\n" + plan.take(800))
    assert(!plan.contains("HashAggregate"),
      "the Gramian runs at FIT time, not per scoring row:\n" + plan.take(800))
  }

  test("text_entropy is one map-side pass — no aggregate, no join") {
    val plan = planOf(graft.queries.TextQueries.textEntropy(spark, sf))
    // the whole point of the native expression: per-doc entropy without
    // exploding characters through an exchange (the only shuffle is the
    // final presentation sort)
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"),
      "entropy must not aggregate or join:\n" + plan.take(800))
    assert(plan.toLowerCase.contains("charentropy"),
      "native entropy kernel missing from the plan")
  }

  test("source_partitioned prunes to the single matching partition") {
    val plan = planOf(graft.queries.SourceQueries.sourcePartitioned(spark, sf))
    assert(plan.contains("PartitionFilters: ["), plan.take(800))
    assert(!plan.contains("PartitionFilters: []"),
      "the status filter must prune partitions, not scan the lake")
  }

  test("bucketed tables join with zero shuffle (co-located join)") {
    import org.apache.spark.sql.functions._
    val t = graft.util.Tables(spark, sf)
    spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
    spark.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
    // the in-memory catalog forgets tables between JVMs but their
    // warehouse directories persist — remove them or saveAsTable throws
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File("spark-warehouse/graft_bkt_orders"))
    rm(new java.io.File("spark-warehouse/graft_bkt_lineitem"))
    t.orders.select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").bucketBy(8, "o_orderkey")
      .saveAsTable("graft_bkt_orders")
    t.lineitem.select("l_orderkey", "l_quantity")
      .write.mode("overwrite").bucketBy(8, "l_orderkey")
      .saveAsTable("graft_bkt_lineitem")
    // forbid broadcast so the test proves BUCKETING removes the shuffle,
    // not that the tables are merely small
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bkt_orders")
        .join(spark.table("graft_bkt_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = planOf(joined)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan.take(400))
      // matching bucketing on both sides: the join must not add exchanges
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed-by-join-key tables must join without a shuffle")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucket_join query: join keys come pre-partitioned, no join-side exchange") {
    val plan = planOf(graft.queries.SourceQueries.bucketJoin(spark, sf))
    assert(plan.contains("SortMergeJoin"), plan.take(400))
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey") &&
      !plan.contains("Exchange hashpartitioning(l_orderkey"),
      "bucket layout must feed the join without re-shuffling either side")
  }

  test("agg_equidepth boundaries come from ONE percentile buffer") {
    // three separate percentile aggregates = three whole-column value
    // maps through one final task — the 100×-scale killer this pins
    // against. One array-fraction buffer shows up as one partial +
    // one final percentile in the plan. (Production at scale swaps in
    // the GK approx_percentile path — equidepthHistogram(exactBounds =
    // false), spec'd in PipeSpec — with the identical plan shape.)
    val plan = planOf(graft.queries.PipeQueries.aggEquidepth(spark, sf))
    val n = "percentile".r.findAllIn(plan).size
    assert(n <= 2, s"expected a single percentile buffer, saw $n:\n${plan.take(800)}")
  }

  test("stream_topk rank stage compiles to WindowGroupLimit") {
    val plan = planOf(StreamQueries.streamTopk(spark, sf))
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("text_quality tokenizes once per row (single array_remove in plan)") {
    val plan = planOf(graft.queries.TextQueries.textQuality(spark, sf))
    val n = "array_remove".r.findAllIn(plan).length
    assert(n === 1, s"expected 1 tokenization, found $n")
  }

  test("q_skew_join: salted keys ride a non-broadcast join") {
    val plan = planOf(graft.queries.EventQueries.qSkewJoin(spark, sf))
    assert(plan.contains("SortMergeJoin"),
      "merge hint must hold the salted join out of broadcast:\n" +
        plan.take(400))
    assert(plan.contains("salt"), "salt must be a join key")
  }

  test("q_scd2: lag, run numbering and collapse ride user_id partitioning") {
    val plan = planOf(graft.queries.EventQueries.qScd2(spark, sf))
    // the lag flag and the running-sum run id share ONE user_id sort
    // order; only the (user, run) collapse may add an exchange
    val n = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(n <= 1, s"window stages must reuse the user_id exchange, found $n:\n" +
      plan.take(1200))
  }

  test("q_cdc_apply: both latest-per-key passes compile to WindowGroupLimit") {
    val plan = planOf(graft.queries.EventQueries.qCdcApply(spark, sf))
    val n = "WindowGroupLimit".r.findAllIn(plan).size
    assert(n >= 2, s"base and change snapshots must both push partial top-1:\n" +
      plan.take(1200))
  }

  test("q_funnel reuses one user_id exchange across all window stages") {
    val plan = planOf(graft.queries.EventQueries.qFunnel(spark, sf))
    val n = java.util.regex.Pattern.quote("Exchange hashpartitioning(user_id")
      .r.findAllIn(plan).length
    assert(n <= 1, s"funnel must shuffle on user_id once, found $n:\n" +
      plan.take(600))
  }

  test("funnel counts are monotone down the steps") {
    val r = graft.queries.EventQueries.qFunnel(spark, sf).head()
    val (view, click, buy) = (r.getLong(1), r.getLong(2), r.getLong(3))
    assert(view >= click && click >= buy,
      s"funnel must narrow: $view >= $click >= $buy")
  }

  test("q_fuzzy_join: long-side candidates ride the gram equi-join, no cartesian") {
    val plan = planOf(Relational.qFuzzyJoin(spark, sf))
    // the prefix-index join keys on gram; the only cartesian-class node
    // allowed is the broadcast short-side fallback (bounded cardinality)
    assert(!plan.contains("CartesianProduct"),
      "fuzzy join must never plan an unbroadcast cartesian:\n" + plan.take(800))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1, s"only the short-side fallback may broadcast-nest ($bnlj):\n" +
      plan.take(800))
  }

  test("knn_hamming: one broadcast of the packed queries, codegen'd distance") {
    val plan = planOf(SimQueries.knnHamming(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), plan.take(800))
    assert(plan.toLowerCase.contains("hammingdist"),
      "native Hamming kernel missing from the plan")
    assert(plan.contains("WindowGroupLimit"),
      "per-query top-k must push a partial group limit before its exchange")
  }

  test("q_basket: pair explode rides the orderkey equi-join, no cartesian") {
    val plan = planOf(Relational.qBasket(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "basket pairs must join on orderkey:\n" + plan.take(800))
    // exactly ONE nested-loop join is allowed: the 1-row n_orders
    // broadcast (r9 — N in-plan instead of a driver action); the pair
    // self-join itself must stay an equi-join
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1,
      s"only the 1-row totals broadcast may nested-loop, found $bnlj:\n" +
        plan.take(800))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-100 must not global-sort:\n" + plan.take(800))
  }

  test("q_rank_family: all four window functions share one exchange + sort") {
    val plan = planOf(Relational.qRankFamily(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected one exchange:\n${plan.take(1000)}")
    val sorts = "\\bSort \\[".r.findAllIn(plan).size
    assert(sorts <= 2, s"window + output sort only, got $sorts:\n${plan.take(1000)}")
  }

  test("export_manifest: partial aggregation runs before the shard exchange") {
    val plan = planOf(CurationQueries.exportManifest(spark, sf))
    val i = plan.indexOf("partial_")
    val j = plan.indexOf("Exchange hashpartitioning")
    assert(i >= 0 && j >= 0 && i > j, // plan prints top-down
      "xor checksum must partial-aggregate map-side:\n" + plan.take(1000))
  }

  test("q_resample: grid fan-out plans no extra exchange beyond user_id") {
    val plan = planOf(graft.queries.EventQueries.qResample(spark, sf))
    // bounds agg + daily rollup + join + fill window all key on user_id;
    // AQE may coalesce but nothing should repartition on another key
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    val keys = "hashpartitioning\\(user_id".r.findAllIn(plan).size
    val all = "hashpartitioning\\(".r.findAllIn(plan).size
    assert(keys === all, s"non-user_id exchange leaked in:\n${plan.take(1200)}")
  }

  test("q_sessionize: both windows and the rollup share ONE user_id exchange") {
    val plan = planOf(graft.queries.EventQueries.qSessionize(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1,
      s"lag, running sum and the session rollup must reuse one exchange:\n" +
        plan.take(1000))
  }

  test("pack_concat: corpus cumsum rides shard partitioning; only the " +
      "32-row shard-base frame may single-partition") {
    val plan = planOf(CurationQueries.packConcat(spark, sf))
    assert(plan.contains("Exchange hashpartitioning(shard"), plan.take(1200))
    val n = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(n <= 1,
      s"a doc-scale global window would add a second SinglePartition, found $n:\n" +
        plan.take(1200))
  }

  test("emb_outliers: KB-scale mean and stat tables join by broadcast") {
    val plan = planOf(SimQueries.embOutliers(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(1500))
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must never sort-merge against the KB tables:\n${plan.take(1500)}")
  }

  test("q_gini / mix_token_budget: ranks ride the value-histogram " +
      "decomposition — within-value windows hash-partition, only the " +
      "bounded histogram cumsum may single-partition") {
    // allowance of 2: the bounded histogram cumsum plus (q_gini only)
    // the final one-row scalar aggregate — a corpus-scale global window
    // would add a third
    Seq(
      planOf(graft.queries.EventQueries.qGini(spark, sf)) -> "c",
      planOf(CurationQueries.mixTokenBudget(spark, sf)) -> "sq"
    ).foreach { case (plan, key) =>
      assert(plan.contains(s"Exchange hashpartitioning($key"),
        plan.take(1200))
      val n = "Exchange SinglePartition".r.findAllIn(plan).size
      assert(n <= 2, s"found $n SinglePartition exchanges:\n${plan.take(1200)}")
    }
  }

  test("emb_matryoshka: probes broadcast (never a shuffled cartesian); " +
    "top-10 rides WindowGroupLimit") {
    val plan = planOf(SimQueries.embMatryoshka(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "the KB probe set must broadcast against each corpus scan")
    assert(plan.contains("WindowGroupLimit"),
      "per-(query,budget) top-10 must apply before the exchange")
  }

  test("q_skew_report: one-row totals broadcast; top-10 via TakeOrdered, " +
    "no global sort") {
    val plan = planOf(graft.queries.EventQueries.qSkewReport(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1200))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "the 1-row totals join must broadcast")
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("q_attribution_multi: purchase-click pairs ride ONE user_id " +
    "equi-join with the range predicate as join filter") {
    val plan = planOf(graft.queries.EventQueries.qAttributionMulti(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the lookback predicate must ride the equi-join, not a nested loop:\n" +
        plan.take(1200))
  }

  test("q_pareto: only the bounded histogram cumsum may single-partition; " +
    "thresholds join by broadcast") {
    val plan = planOf(graft.queries.EventQueries.qPareto(spark, sf))
    // the user-count aggregate must hash-partition; the heaviest-first
    // cumsum runs over the (cnt -> n_users) histogram whose cardinality
    // is bounded by max per-user activity, so its SinglePartition
    // window is the q_gini shape, not a corpus sort
    assert(plan.contains("Exchange hashpartitioning(user_id"), plan.take(1200))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "the 4-row threshold table must broadcast")
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("q_skyline: prefix max rides shard partitioning — no " +
    "price-cardinality frame hits SinglePartition") {
    val plan = planOf(Relational.qSkyline(spark, sf))
    // per-shard running max must hash-partition on shard; bounds live
    // behind the checkpoint, so the ONLY SinglePartition allowed in the
    // final plan is the 64-row shard-base window
    assert(plan.contains("Exchange hashpartitioning(shard"), plan.take(1200))
    val n = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(n <= 1,
      s"a distinct-price global window would add SinglePartition " +
        s"exchanges, found $n:\n${plan.take(1200)}")
  }

  test("text_nbclassify: tokenizer runs ONCE — behind the checkpoint, " +
    "never in the scoring plan; V and N ride the broadcast priors") {
    val plan = planOf(graft.queries.TextQueries.textNbclassify(spark, sf))
    // tf/ct are localCheckpoint-ed: the final DAG consumes checkpointed
    // partitions (Scan ExistingRDD), so the tokenize expression must
    // not appear anywhere in the scoring job's plan
    assert(!plan.contains("split(lower("),
      "tokenize leaked into the scoring plan — V/N regressed to " +
        "re-derivations:\n" + plan.take(1200))
    assert("Scan ExistingRDD".r.findAllIn(plan).size >= 2,
      "tf and ct must both come from checkpoints:\n" + plan.take(1200))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      "the |langs|-row priors must broadcast:\n" + plan.take(1200))
  }

  test("manifest family: row signatures fold map-side — the exchanges " +
    "carry nShards-row partials, never document bodies") {
    Seq(
      planOf(CurationQueries.exportManifest(spark, sf)),
      planOf(CurationQueries.manifestIncremental(spark, sf)),
      planOf(CurationQueries.manifestDiff(spark, sf))
    ).foreach { plan =>
      // the md5 row_sig and the bit_xor partial must both run below
      // the shard exchange: past it only (shard, count, sum, xor) rows
      // exist, so no text column may appear above any exchange.
      // lastIndexOf: the incremental/diff variants also re-aggregate
      // MERGED partials above the exchange (exchange-free — AQE reuses
      // the child partitioning), which is fine; the pin is that the
      // corpus-scale rollup partial-aggregates map-side
      val i = plan.lastIndexOf("partial_bit_xor")
      val j = plan.lastIndexOf("Exchange hashpartitioning(shard")
      assert(i >= 0 && j >= 0 && i > j, // plan prints top-down
        "bit_xor must partial-aggregate below the shard exchange:\n" +
          plan.take(1200))
      val exIdx = plan.indexOf("Exchange")
      assert(exIdx >= 0 && !plan.substring(0, exIdx).contains("text#"),
        "document bodies must never cross an exchange:\n" + plan.take(1200))
    }
  }

  test("q_corpus_diff: digest compare is one co-partitioned full-outer " +
    "join; no body column crosses the exchange") {
    val plan = planOf(CurationQueries.qCorpusDiff(spark, sf))
    assert(plan.contains("FullOuter"), plan.take(1200))
    // text must be consumed map-side by md5() and never shuffled: the
    // exchange rows carry (doc_id, source, 32-char digest) only
    val exIdx = plan.indexOf("Exchange hashpartitioning(doc_id")
    assert(exIdx >= 0, plan.take(1200))
    assert(!plan.substring(0, exIdx).contains("text#"),
      "the diff join must ship digests, not document bodies")
  }

  test("emb_ncm_share: assignment is map-side behind a one-row broadcast; " +
    "no corpus-side sort-merge or cartesian") {
    val plan = planOf(SimQueries.embNcmShare(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"),
      "the centroid set must ride a broadcast, never an exchange:\n" +
        plan.take(1200))
  }

  test("q_resume_cursor: prefix totals broadcast-hash back; probes ride a " +
    "bounded nested-loop; nothing goes cartesian") {
    val plan = planOf(CurationQueries.qResumeCursor(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the nShards-row prefix frame must broadcast:\n" + plan.take(1200))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "the 7-row probe set rides a broadcast NLJ by design:\n" +
        plan.take(1200))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), plan.take(1200))
  }

  test("mix_perplexity_band: band edges broadcast back to the corpus scan") {
    val plan = planOf(CurationQueries.mixPerplexityBand(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the |sources|-row edge table must broadcast:\n" + plan.take(1200))
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("source_quarantine: one pass, one aggregation exchange") {
    val plan = planOf(graft.queries.SourceQueries.sourceQuarantine(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1,
      s"clean/quarantine split must not add exchanges:\n${plan.take(1200)}")
  }

  test("q_crawl_novelty: the anti-join rides the 8-byte gram hash; " +
      "nothing goes cartesian") {
    val plan = planOf(graft.queries.CurationQueries.qCrawlNovelty(spark, sf))
    // the join must be EQUI-keyed on the 8-byte hash (broadcast at
    // test scale where the old gram set is KB; shuffled-hash on gh at
    // corpus scale — both co-locatable/bucketable, neither quadratic)
    assert("Join \\[gh#".r.findFirstIn(plan).isDefined,
      "the novelty join must key on the hashed gram:\n" + plan.take(1200))
    // recrawled()'s one-row maxId broadcast is the only permitted NLJ
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      plan.take(1200))
  }

  test("q_takedown_audit: removal-set-scale probe counts broadcast onto " +
      "the audit trail; nothing goes cartesian") {
    val plan = planOf(graft.queries.DedupQueries.qTakedownAudit(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the per-doc probe counts must broadcast:\n" + plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("q_interval_join: the overlap join is a bucket EQUI-join - no " +
      "nested-loop, no cartesian anywhere in the plan") {
    val plan = planOf(graft.queries.EventQueries.qIntervalJoin(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "the naive theta overlap join leaked through:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("q_triangles: wedge and closing joins are shuffle equi-joins; " +
      "brand dim broadcasts; degree joins stay unhinted equi-joins; " +
      "no cartesian") {
    val plan = planOf(graft.queries.Relational.qTriangles(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(plan.contains("BroadcastHashJoin"),
      "the hinted brand/part dim lookup must broadcast:\n" + plan.take(800))
    // the vertex-scale degree joins carry NO broadcast hint (r13):
    // whether AQE broadcasts them is a runtime sizing decision, so the
    // pin is only that they remain equi-joins (no cartesian/NLJ above)
    // the part filter reaches the scan
    assert(plan.contains("PushedFilters: [IsNotNull(p_size), " +
        "LessThanOrEqual(p_size,12)") ||
      plan.contains("LessThanOrEqual(p_size,12)"),
      "p_size vertex filter must push into the part scan:\n" +
        plan.take(1500))
  }

  test("q_er_link: blocking is equi-joins only - scoring never sees a " +
      "cartesian candidate set") {
    val plan = planOf(graft.queries.Relational.qErLink(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("q_bloom_join: dim filter pushed to the orders scan; the bloom " +
      "rides a one-row broadcast; the exact join stays a shuffle join") {
    val plan = planOf(graft.queries.Relational.qBloomJoin(spark, sf))
    assert(plan.contains("GreaterThan(o_totalprice,490000.0)"),
      "dim predicate must reach the parquet scan:\n" + plan.take(1200))
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      "the exact join must stay a shuffle join (broadcasting the dim " +
        "would hide what the bloom is for):\n" + plan.take(800))
    // the only nested-loop is the deliberate one-row bloom broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      plan.take(800))
    assert(plan.contains("graft_bloom_contains") ||
      plan.contains("bloommightcontain") ||
      plan.toLowerCase.contains("bloom"),
      "the map-side bloom prefilter must appear in the plan:\n" +
        plan.take(1200))
  }

  test("q_crawl_novelty_probe: the sketch is a held_bloom_contains " +
      "test that no join ships; the exact existence join survives for " +
      "the positive residue; no cartesian") {
    val plan = planOf(
      graft.queries.CurationQueries.qCrawlNoveltyProbe(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    // the only nested-loops are the recrawl fixture's one-row
    // max-doc-id scalar, once in each of the two crawl-side derivations
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 2,
      plan.take(1200))
    assert(plan.contains("held_bloom_contains(k="),
      "the sketch test must appear in the plan:\n" + plan.take(1200))
    assert(plan.contains("ExistenceJoin"),
      "the exact existence join must survive for bloom-positive grams:\n" +
        plan.take(1200))
  }

  test("q_crawl_novelty_sketch: ZERO joins on the gram path — the " +
      "index files are never opened; only one-row broadcasts") {
    val plan = planOf(
      graft.queries.CurationQueries.qCrawlNoveltySketch(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(!plan.contains("LeftAnti") && !plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin") &&
      !plan.contains("BroadcastHashJoin"),
      "the approximate tier must not join anything:\n" + plan.take(1200))
    assert(!plan.contains("novelty_index"),
      "the gram index files must never be opened:\n" + plan.take(1200))
    // the only nested-loop is the recrawl fixture's one-row
    // max-doc-id scalar; the sketch rides held_bloom_contains
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      plan.take(1200))
    assert(plan.contains("held_bloom_contains(k="), plan.take(1200))
  }

  test("the fused crawl batch pins one frame whose exact membership test " +
      "is an equi-keyed ExistenceJoin, never a null-aware nested loop") {
    import graft.dedup.NoveltyIndex
    import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
    import org.apache.spark.sql.catalyst.plans.ExistenceJoin
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.functions.col
    val docs = graft.util.Tables(spark, sf).documents
    val dir = java.nio.file.Files.createTempDirectory("graft-nvpin").toString
    NoveltyIndex.init(spark, docs.filter(col("doc_id") % 2 === 0), dir, "text", 3)
    val snap = NoveltyIndex.load(spark, dir)
    assert(snap.bloom.nonEmpty)
    Seq(snap, snap.copy(bloom = None)).foreach { s =>
      val what = s"sketched = ${s.bloom.nonEmpty}"
      val qe = NoveltyIndex.seenFlagged(s, docs.filter(col("doc_id") % 2 === 1),
        "source", "text", 3).queryExecution
      val existence = qe.optimizedPlan.collect {
        case j @ Join(_, _, ExistenceJoin(_), _, _) => j
      }
      assert(existence.size === 1, s"$what:\n${qe.optimizedPlan}")
      assert(existence.forall(j => ExtractEquiJoinKeys.unapply(j).exists(_._2.nonEmpty)),
        s"the existence join must be equi-keyed:\n${qe.optimizedPlan}")
      // the sketch is one held membership test per branch of the pin,
      // and no nested loop ships it
      val sketchTests = qe.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect {
          case e: graft.functions.HeldBloomContains => e }.size).sum
      }.sum
      assert(sketchTests === (if (s.bloom.nonEmpty) 2 else 0),
        s"$what:\n${qe.optimizedPlan}")
      val nested = qe.sparkPlan.collect { case j: BroadcastNestedLoopJoinExec => j }
      assert(nested.isEmpty, s"$what:\n${qe.sparkPlan}")
    }
  }
}
