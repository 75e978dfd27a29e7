package graft

import org.apache.spark.sql.functions._
import graft.dedup.{BloomMembership, Dedup, MinHashLSH, NgramJaccard, SimHash}
import graft.queries.DedupQueries
import scala.jdk.CollectionConverters._

class DedupSpec extends SparkSpec {

  test("Dedup.exact collapses token-permuted copies") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b"), (4L, "b  a"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((1L, 2L), (3L, 2L)))
  }

  test("source matrix: canonical symmetric cells, pair mass conserved") {
    val pairs = DedupQueries.dedupMinhashLsh(spark, sf).count()
    val cells = DedupQueries.dedupSourceMatrix(spark, sf).collect()
    assert(cells.forall(r => r.getString(0) <= r.getString(1)),
      "cells must be (lo, hi) canonical")
    assert(cells.map(_.getLong(2)).sum === pairs,
      "every near-dup pair lands in exactly one cell")
  }

  test("MinHash LSH finds all planted near-dup pairs (recall vs exact)") {
    // exact word-trigram jaccard >= 0.7, brute force
    val docs = graft.util.Tables(spark, sf).documents
    val sh = MinHashLSH.shingled(docs, "doc_id", "text", 3)
    val a = sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("j",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("j") >= 0.7)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupQueries.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(lsh === exact,
      s"LSH missed ${exact -- lsh}, spurious ${lsh -- exact}")
  }

  test("NgramJaccard equals brute-force exact pairs") {
    val docs = graft.util.Tables(spark, sf).documents
    // uncapped maxDf to match the query layer's regime: with the default
    // cap, a df>100 shingle would make this a lower-bound-vs-exact compare
    val viaIndex = NgramJaccard.pairs(docs, "doc_id", "text", 3, 0.7,
        maxDf = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = DedupQueries.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaIndex === lsh)
  }

  test("NgramJaccard prefix filter is exact at a looser tau (boundary stress)") {
    // τ = 0.5 puts many docs right at the ⌈τ·|a|⌉ prefix boundary —
    // compare against an independent brute-force all-pairs computation
    val docs = graft.util.Tables(spark, sf).documents
    val sh = MinHashLSH.shingled(docs, "doc_id", "text", 3)
    val a = sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .withColumn("nc", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("j", round(col("nc").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("nc")).cast("double"), 4))
      .filter(col("j") >= 0.5)
      .select("id_a", "id_b", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaIndex = NgramJaccard.pairs(docs, "doc_id", "text", 3, 0.5,
        maxDf = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty && viaIndex === brute,
      s"missed ${brute -- viaIndex}, spurious ${viaIndex -- brute}")
  }

  test("NgramJaccard default df cap still finds every planted near-dup") {
    val docs = graft.util.Tables(spark, sf).documents
    val uncapped = NgramJaccard.pairs(docs, "doc_id", "text", 3, 0.7,
        maxDf = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = NgramJaccard.pairs(docs, "doc_id", "text", 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === uncapped,
      "df-capped index lost a pair not glued by ultra-common shingles")
  }

  test("SimHash: permuted copies collide; hamming bound respected") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "delta gamma beta alpha"),
      (3L, "totally different words here entirely")).toDF("doc_id", "text")
    val fp = SimHash.fingerprints(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) === fp(2L), "order-insensitive by construction")
    val pairs = SimHash.nearDuplicates(df, "doc_id", "text", 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(pairs.forall(_.getInt(2) <= 3))
  }

  test("simhash near-dups on corpus are found and symmetric-free") {
    val out = DedupQueries.dedupSimhash(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("dedup_simhash: EXACT pair list value-pinned at sf0.001 (the " +
    "rows-only query's knn_recall-style value gate)") {
    // xxhash64 has no DuckDB twin, so this query can't get a SQL
    // oracle — but the 64-bit fold is deterministic integer
    // arithmetic, so the exact (id_a, id_b, hamming) set at the test
    // SF is a constant. Pinning it means a silent regression anywhere
    // in tokenize → hash → sign-fold → block-LSH → verify cannot hide
    // behind the rows-only status.
    val got = DedupQueries.dedupSimhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = Set[(Long, Long, Int)](
      (0L, 82L, 0), (8L, 12L, 2), (8L, 120L, 2), (8L, 360L, 1),
      (12L, 360L, 1), (16L, 369L, 2), (26L, 176L, 0), (45L, 487L, 2),
      (56L, 157L, 1), (77L, 459L, 2), (99L, 174L, 1), (110L, 242L, 3),
      (110L, 467L, 2), (119L, 425L, 3), (120L, 360L, 3), (144L, 161L, 2),
      (197L, 246L, 3), (211L, 404L, 2), (229L, 263L, 2), (245L, 401L, 3),
      (260L, 391L, 0), (261L, 296L, 3), (270L, 329L, 1), (306L, 387L, 3),
      (349L, 411L, 0), (387L, 457L, 3), (474L, 498L, 3))
    assert(got === expected,
      s"extra=${got -- expected} missing=${expected -- got}")
  }

  test("SimHash64 native expression equals the composable " +
    "functions._ formulation (independent fold arithmetic)") {
    import org.apache.spark.sql.functions._
    // the composable spelling: hash every token with the BUILTIN
    // xxhash64 (same seed-42 contract the native expression documents),
    // fold each bit's ±1 count with a higher-order aggregate, OR the
    // sign bits — 64 interpreted passes, which is exactly why
    // production uses the native one-pass expression; equality here
    // proves the native fold against independently-spelled arithmetic
    val docs = graft.util.Tables(spark, sf).documents.limit(20)
      .select(col("doc_id"), graft.text.TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val hs = transform(col("toks"), t => xxhash64(t))
    val composable = (0 until 64).map { b =>
      val cnt = aggregate(hs, lit(0), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1))
      when(cnt > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    graft.functions.GraftFunctions.register(spark)
    val rows = docs.select(
      call_function("graft_simhash64", col("toks")).as("native"),
      composable.as("composed")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1),
      s"native ${r.getLong(0)} != composable ${r.getLong(1)}"))
  }

  test("ConnectedComponents: known graph resolves to min-label clusters") {
    import spark.implicits._
    // components: {1,2,3} (chain), {10,11}, isolated pair {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val out = graft.dedup.ConnectedComponents.clusters(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out === Map(1L -> 3L, 10L -> 2L, 20L -> 2L))
  }

  test("ConnectedComponents throws loudly instead of returning stale labels") {
    import spark.implicits._
    // path of 8 needs more than 1 round; maxIters = 1 must not return
    // silently-wrong labels
    val edges = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      graft.dedup.ConnectedComponents.labels(edges, maxIters = 1,
        smallCollectMax = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("ConnectedComponents: long path graph needs multiple rounds") {
    import spark.implicits._
    // path 1-2-...-8: diameter 7, so the fused round-0 cannot finish it —
    // exercises the iterative localCheckpoint loop over several rounds
    val edges = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = graft.dedup.ConnectedComponents
      .labels(edges, smallCollectMax = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === (1L to 8L).map(i => (i, 1L)).toSet)
  }

  test("ConnectedComponents.release drops the final checkpoint blocks") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val lbl = graft.dedup.ConnectedComponents.labels(edges, smallCollectMax = 0)
    lbl.count() // consume fully before releasing (lineage is truncated)
    val ids = lbl.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    assert(ids.nonEmpty, "labels() should be checkpoint-backed")
    assert(ids.exists(spark.sparkContext.getPersistentRDDs.contains),
      "final buffer should be cached before release")
    graft.dedup.ConnectedComponents.release(lbl)
    // unpersist(blocking=false) is async only in block removal; the
    // persistentRdds registry is updated synchronously
    assert(!ids.exists(spark.sparkContext.getPersistentRDDs.contains),
      "release() must drop the cached final buffer")
  }

  test("dedup_clusters matches driver-side union-find on the pair graph") {
    val pairs = DedupQueries.dedupMinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // tiny reference union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => find(k) -> k).toSeq
      .groupBy(_._1).map { case (c, m) => c -> m.size.toLong }
    val got = DedupQueries.dedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === expected)
  }

  test("embedding near-dup pairs have cos in [tau, 1]") {
    val out = DedupQueries.dedupEmbedding(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getDouble(2) >= 0.4 && r.getDouble(2) <= 1.0))
  }

  test("dedup_keep_best: one representative per cluster, sizes match clusters") {
    val best = DedupQueries.dedupKeepBest(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val sizes = DedupQueries.dedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(best.keySet === sizes.keySet)
    assert(best.forall { case (c, (_, n)) => n === sizes(c) })
    // the kept doc must be the longest member (ties → smallest id)
    val docs = graft.util.Tables(spark, sf).documents
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labels = graft.dedup.ConnectedComponents.labels(
        DedupQueries.dedupMinhashLsh(spark, sf)
          .select(col("id_a"), col("id_b"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val membersOf = labels.groupBy(_._2).map { case (c, m) => c -> m.map(_._1) }
    best.foreach { case (c, (keep, _)) =>
      val want = membersOf(c).minBy(id => (-docs(id), id))
      assert(keep === want, s"cluster $c kept $keep, expected $want")
    }
  }

  test("BloomMembership.matches equals the exact semi join") {
    import spark.implicits._
    val seen = (1L to 400L).map(i => (i, s"doc number $i body"))
      .toDF("doc_id", "text")
    // probe: half overlap seen's text (different ids), half novel
    val probe = ((1001L to 1050L).map(i => (i, s"doc number ${i - 1000} body")) ++
      (2001L to 2050L).map(i => (i, s"unseen text $i"))).toDF("doc_id", "text")
    val got = BloomMembership.matches(probe, seen,
        Dedup.normKey(col("text")), Dedup.normKey(col("text")),
        expectedN = 400L, fpp = 0.01)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === (1001L to 1050L).toSet,
      "bloom prefilter + verify must reproduce the exact semi join")
  }

  test("bloom prefilter alone has no false negatives on the corpus split") {
    // candidate set (prefilter only, before verification) must contain
    // every true match — the one-sidedness the design relies on
    val docs = graft.util.Tables(spark, sf).documents
    val seen = docs.filter(pmod(col("doc_id"), lit(5)) < 4)
    val probe = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    val filter = BloomMembership.seenFilter(seen,
      Dedup.normKey(col("text")), expectedN = 10000L, fpp = 0.001)
    val candidates = probe.crossJoin(broadcast(filter))
      .filter(call_function("graft_bloom_contains",
        col("graft_bloom"), xxhash64(Dedup.normKey(col("text")))))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val truth = DedupQueries.dedupBloom(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(truth.subsetOf(candidates),
      s"prefilter dropped true matches: ${truth -- candidates}")
  }

  test("Winnow guarantee: a shared w+k-1 token run yields a shared fingerprint") {
    import spark.implicits._
    val k = 5; val w = 4
    // docs 1 and 2 share exactly one 8-token run (= w+k-1) embedded in
    // otherwise disjoint text; doc 3 shares nothing with either
    val run = "q r s t u v w x"
    val df = Seq(
      (1L, s"a1 b1 c1 $run d1 e1 f1"),
      (2L, s"a2 b2 $run c2 d2 e2 g2 h2"),
      (3L, "m n o p aa bb cc dd ee ff gg hh")
    ).toDF("doc_id", "text")
      .withColumn("toks", graft.text.TextOps.tokens(col("text")))
    val fps = graft.dedup.Winnow.fingerprints(df, "doc_id", "toks", k, w)
    val pairs = graft.dedup.Winnow.pairs(fps, "doc_id", minShared = 1)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)),
      "shared run of w+k-1 tokens must produce a shared fingerprint")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "doc with no shared grams must not pair")
  }

  test("Winnow.pairs drops stop-fingerprint fan-out by default (maxDf cap on)") {
    import spark.implicits._
    // 1100 docs all sharing the same two fingerprints: df = 1100 exceeds
    // the default cap, so the ~1.2M-row uncapped self-join must not run —
    // while a rare fingerprint pair in the same table still comes through
    val stop = (0L until 1100L).flatMap(i => Seq((i, "stop_a"), (i, "stop_b")))
    val rare = Seq((1L, "rare_1"), (2L, "rare_1"), (1L, "rare_2"), (2L, "rare_2"))
    val fps = (stop ++ rare).toDF("doc_id", "fp")
    val out = graft.dedup.Winnow.pairs(fps, "doc_id", minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 2L, 2L)),
      "capped run must keep only the rare-fingerprint pair")
  }

  test("NgramJaccard.pairs maxDf cap drops stop-shingle fan-out") {
    import spark.implicits._
    // 150 docs glued ONLY by one shingle with df = 150 > default cap
    // 100: the Σdf² fan-out (11 175 candidate pairs) must not enter the
    // index, while a rare df = 2 shingle in the same corpus still pairs
    val stop = (0L until 150L).map(i => (i, "alpha beta gamma"))
    val rare = Seq((1000L, "zebra lion tiger"), (1001L, "zebra lion tiger"))
    val docs = (stop ++ rare).toDF("doc_id", "text")
    val capped = graft.dedup.NgramJaccard
      .pairs(docs, "doc_id", "text", n = 3, tau = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq === Seq((1000L, 1001L)),
      "capped run must keep only the rare-shingle pair")
    // maxDf >= corpus size = the complete exact output (the oracle regime)
    val uncapped = graft.dedup.NgramJaccard
      .pairs(docs, "doc_id", "text", n = 3, tau = 0.7, maxDf = Int.MaxValue)
      .count()
    assert(uncapped === 150L * 149L / 2L + 1L)
  }

  test("narrow-index shares leave the CacheManager empty; release() frees blocks") {
    // the r4 leak: MinHashLSH/NgramJaccard/Winnow/knn_recall registered
    // a Dataset.persist per call that nothing ever unpersisted — pinned
    // by the CacheManager for the session lifetime. The shares now ride
    // lazy localCheckpoints: CacheManager untouched, blocks reclaimed on
    // GC or deterministically via Caches.release.
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.clearCache()
    val runs = Seq(
      DedupQueries.dedupMinhashLsh(spark, sf),
      DedupQueries.dedupNgramJaccard(spark, sf),
      DedupQueries.dedupWinnow(spark, sf),
      graft.queries.SimQueries.knnRecall(spark, sf))
    runs.foreach(_.count())
    assert(cm.isEmpty,
      "index sharing must not register session-lifetime CacheManager entries")
    runs.foreach { df =>
      val ids = df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }
      assert(ids.nonEmpty, "pipeline should be checkpoint-backed")
      graft.util.Caches.release(df)
      assert(!ids.exists(spark.sparkContext.getPersistentRDDs.contains),
        "release() must drop the shared index blocks")
    }
  }

  test("cellPairs: subset of exact at any nProbe, complete at the registered depth") {
    val emb = graft.util.Tables(spark, sf).embeddings
    val exact = graft.dedup.EmbeddingDedup
      .pairs(emb, "vec_id", "embedding", tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cents = graft.sim.Knn.fitCentroids(emb, "vec_id", "embedding", 16, 3)
    def celled(nProbe: Int) = graft.dedup.EmbeddingDedup
      .cellPairs(emb, "vec_id", "embedding", tau = 0.4,
        nProbe = nProbe, centroids = Some(cents))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // shallow probes: sound (every reported pair is in the exact set
    // WITH the exact cos — verification is never the estimate), maybe
    // incomplete
    val shallow = celled(2)
    assert(shallow.nonEmpty)
    shallow.foreach { case (ids, cos) =>
      assert(exact.get(ids).contains(cos),
        s"pair $ids not in exact set or cos differs")
    }
    // the registered depth (nProbe = 8) is exact on the planted corpus
    // — the property the shared DuckDB oracle relies on
    val deep = celled(8)
    assert(deep === exact, "registered nProbe must recover every pair")
    // recall is monotone in nProbe
    assert(shallow.size <= celled(4).size && celled(4).size <= deep.size)
  }

  test("NgramIndex: fit-once search-many parity; release frees index blocks") {
    val docs = graft.util.Tables(spark, sf).documents
    val oneShot = graft.dedup.NgramJaccard
      .pairs(docs, "doc_id", "text", n = 3, tau = 0.7, maxDf = 1000)
      .orderBy(col("id_a"), col("id_b")).collect().map(_.toSeq).toSeq
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.clearCache()
    val idx = graft.dedup.NgramIndex
      .fit(docs, "doc_id", "text", n = 3, tau = 0.7, maxDf = 1000)
    val first = idx.pairs()
    val r1 = first.orderBy(col("id_a"), col("id_b")).collect().map(_.toSeq).toSeq
    val r2 = idx.pairs().orderBy(col("id_a"), col("id_b")).collect().map(_.toSeq).toSeq
    assert(r1 === oneShot, "indexed search must equal the one-shot result")
    assert(r2 === oneShot, "repeat searches must be stable")
    // handle lifecycle: nothing in the CacheManager (the r4 leak
    // class), and release() drops the materialized index blocks
    assert(cm.isEmpty, "NgramIndex must not register CacheManager entries")
    val ids = first.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    assert(ids.nonEmpty, "search plan should reference the checkpointed index")
    idx.release()
    assert(!ids.exists(spark.sparkContext.getPersistentRDDs.contains),
      "release() must drop the index blocks")
  }

  test("SubstringDedup: planted verbatim span flags both carriers, unique prose stays clean") {
    import spark.implicits._
    val span = "A" * 60 // spans two stride-10 windows of the 40-gram
    val docs = Seq(
      (1L, s"unique left prose $span unique right prose xyz"),
      (2L, s"totally different framing here $span and another tail"),
      (3L, "this document shares nothing with the others at all - " +
        "fully unique prose that no verbatim span can match qrs"))
      .toDF("doc_id", "text")
    val out = graft.dedup.SubstringDedup.coverage(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // both planted carriers see duplicated grams; the unique doc sees none
    assert(out(1L)._2 > 0 && out(2L)._2 > 0, s"planted span missed: $out")
    assert(out(3L)._2 === 0L && out(3L)._3 === 0.0, s"false positive: $out")
    out.values.foreach { case (n, d, r) =>
      assert(d <= n && r >= 0.0 && r <= 1.0)
    }
    // hashGrams (the 8-byte-shuffle-key scale knob) is value-identical
    // at collision-free scale
    val hashed = graft.dedup.SubstringDedup
      .coverage(docs, "doc_id", "text", hashGrams = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(hashed === out, "hashed grams must not change coverage")
    // docs shorter than the gram length carry no row (oracle's filter)
    val short = graft.dedup.SubstringDedup
      .coverage(Seq((9L, "tiny")).toDF("doc_id", "text"), "doc_id", "text")
    assert(short.count() === 0L)
  }

  test("MinHashIndex: probe equals the full-run cross-split restriction; disk round-trip") {
    val docs = graft.util.Tables(spark, sf).documents
    val seen = docs.filter(pmod(col("doc_id"), lit(5)) < 4)
    val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    val idx = graft.dedup.MinHashIndex.build(seen, "doc_id", "text", n = 3)
    val probed = graft.dedup.MinHashIndex
      .probe(idx, fresh, "doc_id", "text", n = 3, tau = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: the all-pairs detector on the WHOLE corpus,
    // restricted to pairs crossing the split, re-oriented (new, seen)
    val full = graft.dedup.MinHashLSH
      .nearDuplicates(docs, "doc_id", "text", n = 3, tau = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        (a % 5, b % 5) match {
          case (4, sm) if sm < 4 => Some((a, b, j))
          case (sm, 4) if sm < 4 => Some((b, a, j))
          case _ => None
        }
      }.toSet
    assert(probed === full, "incremental probe must equal the restricted full run")
    assert(probed.nonEmpty, "the split must actually contain cross pairs")
    // disk round-trip: the loaded index probes identically
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx").toString
    graft.dedup.MinHashIndex.save(idx, dir)
    val loaded = graft.dedup.MinHashIndex.load(spark, dir)
    val probed2 = graft.dedup.MinHashIndex
      .probe(loaded, fresh, "doc_id", "text", n = 3, tau = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probed2 === probed, "loaded index must probe identically")
  }

  test("SnapshotIndex.append: append-then-probe equals rebuild-then-probe; " +
      "compact keeps probes identical and leaves one file per band dir; " +
      "takedown drops exactly the removed ids' pairs") {
    import graft.dedup.{MinHashIndex, SnapshotIndex}
    val docs = graft.util.Tables(spark, sf).documents
    val day1 = docs.filter(pmod(col("doc_id"), lit(5)) < 2)
    val batches = Seq(2, 3).map(m => docs.filter(pmod(col("doc_id"), lit(5)) === m))
    val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    def probeSet(idx: MinHashIndex.Index) =
      MinHashIndex.probe(idx, fresh, "doc_id", "text", n = 3, tau = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // day 1: index as epoch 0; days 2 and 3: append each new batch
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx-app").toString
    SnapshotIndex.init(MinHashIndex.build(day1, "doc_id", "text", n = 3),
      spark, dir)
    batches.foreach(b =>
      SnapshotIndex.append(spark, b, dir, "doc_id", "text", n = 3))
    val appended = probeSet(SnapshotIndex.load(spark, dir).index)
    // ground truth: rebuild from scratch on every day's docs
    val rebuilt = probeSet(MinHashIndex.build(
      batches.foldLeft(day1)(_ unionByName _), "doc_id", "text", n = 3))
    assert(appended === rebuilt, "append-then-probe must equal rebuild-then-probe")
    assert(appended.nonEmpty, "the split must contain cross pairs")
    // appends accrete files; compaction rewrites to one file per band
    // dir without changing any probe result
    val before = filesPerPartition(s"$dir/epoch=0/bands")
    assert(SnapshotIndex.compact(spark, dir) === 1L)
    val after = filesPerPartition(s"$dir/epoch=1/bands")
    assert(after.values.sum < before.values.sum,
      s"compaction must shrink band files ($before -> $after)")
    assert(after.nonEmpty && after.values.forall(_ == 1),
      s"exactly one file per band directory after compaction: $after")
    assert(probeSet(SnapshotIndex.load(spark, dir).index) === appended,
      "compaction must not change probe results")
    // takedown: removing the seen ids that matched must silence exactly
    // those pairs and leave every other pair untouched
    val removed = appended.map(_._2).take(2).toSeq
    assert(SnapshotIndex.remove(spark, dir, removed) === 2L)
    val afterRemove = probeSet(SnapshotIndex.load(spark, dir).index)
    assert(afterRemove === appended.filterNot(p => removed.contains(p._2)),
      "removal must drop exactly the removed ids' pairs")
    assert(afterRemove.size < appended.size)
    // idempotent: removing an absent id changes nothing
    assert(SnapshotIndex.remove(spark, dir, Seq(-1L)) === 3L)
    assert(probeSet(SnapshotIndex.load(spark, dir).index) === afterRemove)
  }

  test("SnapshotIndex: pinned readers survive compaction and takedown " +
      "swaps; pointer-loss falls back to max published epoch; " +
      "retention retires old epochs") {
    import graft.dedup.{MinHashIndex, SnapshotIndex}
    val docs = graft.util.Tables(spark, sf).documents
    val seen = docs.filter(pmod(col("doc_id"), lit(5)) < 4)
    val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    def probeSet(idx: MinHashIndex.Index) =
      MinHashIndex.probe(idx, fresh, "doc_id", "text", n = 3, tau = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-snapidx").toString
    SnapshotIndex.init(
      MinHashIndex.build(seen, "doc_id", "text", n = 3), spark, dir)
    assert(SnapshotIndex.currentEpoch(spark, dir) === 0L)
    val snap0 = SnapshotIndex.load(spark, dir)
    val at0 = probeSet(snap0.index)
    assert(at0.nonEmpty)

    // compact publishes epoch 1; the PINNED epoch-0 snapshot still
    // probes identically AFTERWARDS (its files were retained), and a
    // fresh load sees epoch 1 with the same results
    assert(SnapshotIndex.compact(spark, dir) === 1L)
    assert(probeSet(snap0.index) === at0,
      "reader pinned to epoch 0 must survive the compaction swap")
    val snap1 = SnapshotIndex.load(spark, dir)
    assert(snap1.epoch === 1L)
    assert(probeSet(snap1.index) === at0, "compaction preserves probes")

    // takedown publishes epoch 2: the new epoch never matches the
    // removed ids; the epoch-1 reader STILL sees them (isolation)
    val removed = at0.map(_._2).take(2).toSeq
    assert(SnapshotIndex.remove(spark, dir, removed) === 2L)
    val snap2 = SnapshotIndex.load(spark, dir)
    assert(probeSet(snap2.index) ===
      at0.filterNot(p => removed.contains(p._2)))
    assert(probeSet(snap1.index) === at0,
      "epoch-1 reader must still see the pre-takedown corpus")
    // retention: publish(2) retires epochs < 1 — epoch 0 is gone,
    // epoch 1 survives one more cycle
    assert(SnapshotIndex.publishedEpochs(spark, dir) === Seq(1L, 2L))
    // audit read of a specific published epoch
    assert(probeSet(SnapshotIndex.loadEpoch(spark, dir, 1L).index) === at0)
    intercept[IllegalArgumentException] {
      SnapshotIndex.loadEpoch(spark, dir, 0L)
    }

    // crash-window fallback: losing _CURRENT resolves to the max
    // published epoch (exactly what the pointer was about to name)
    new java.io.File(s"$dir/_CURRENT").delete()
    assert(SnapshotIndex.currentEpoch(spark, dir) === 2L)

    // appends land inside the current epoch and the next compact
    // carries them forward
    val day2 = docs.filter(pmod(col("doc_id"), lit(5)) === 3)
    SnapshotIndex.append(spark, day2, dir, "doc_id", "text", n = 3)
    val withDay2 = probeSet(SnapshotIndex.load(spark, dir).index)
    assert(SnapshotIndex.compact(spark, dir) === 3L)
    assert(probeSet(SnapshotIndex.load(spark, dir).index) === withDay2,
      "compaction must carry appended admissions forward")

    // epoch-advance race: an appender that resolved epoch 3, then had
    // a compaction publish epoch 4 underneath it, must re-append into
    // the NEW epoch — its admissions may be absent from epoch 4's
    // rewrite (listed before the append landed) and would otherwise
    // vanish when epoch 3 retires. appendFrom(…, startEpoch=3) after
    // the compact simulates exactly that interleaving.
    val day3 = docs.filter(pmod(col("doc_id"), lit(5)) === 2)
    val staleEpoch = SnapshotIndex.currentEpoch(spark, dir)
    assert(SnapshotIndex.compact(spark, dir) === staleEpoch + 1)
    SnapshotIndex.appendFrom(spark, day3, dir, staleEpoch,
      "doc_id", "text", n = 3)
    val withDay3 = probeSet(SnapshotIndex.load(spark, dir).index)
    // the current epoch (which never saw day3 in its rewrite) must
    // now probe day3's docs — the re-append landed them
    val day3Direct = MinHashIndex.probe(
      MinHashIndex.build(day3, "doc_id", "text", n = 3),
      fresh, "doc_id", "text", n = 3, tau = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(day3Direct.subsetOf(withDay3),
      "admissions appended across an epoch advance must be probeable " +
        "in the new epoch")
    // and the next compact (which retires the stale epoch) keeps them
    assert(SnapshotIndex.compact(spark, dir) === staleEpoch + 2)
    assert(probeSet(SnapshotIndex.load(spark, dir).index) === withDay3,
      "retiring the stale epoch must not lose re-appended admissions")
  }

  /** Parquet files per partition dir (`band_id=…`, `block_id=…`) of
    * one saved table, keyed by dir name.
    */
  private def filesPerPartition(table: String): Map[String, Int] =
    new java.io.File(table).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap

  test("dedup stores re-append exactly once: a batch the checked rewrite " +
      "already captured is not appended again into the new epoch") {
    import graft.dedup.{MinHashIndex, SimHashIndex, SimHashSnapshot, SnapshotIndex}
    val docs = graft.util.Tables(spark, sf).documents
    val base = docs.filter(pmod(col("doc_id"), lit(5)) < 3)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 3)
    val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    // rows per batch doc_id in one epoch's table
    def rowsPerId(table: String): Map[Long, Long] =
      spark.read.parquet(table).filter(col("doc_id").isInCollection(batchIds))
        .groupBy("doc_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // MinHash: append into epoch e, compact to e+1 (the rewrite
    // captures the batch), then replay the append as if it had
    // resolved epoch e before the publish
    def mhProbe(idx: MinHashIndex.Index) =
      MinHashIndex.probe(idx, fresh, "doc_id", "text", n = 3, tau = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mhDir = java.nio.file.Files.createTempDirectory("graft-mh-once").toString
    SnapshotIndex.init(MinHashIndex.build(base, "doc_id", "text", n = 3),
      spark, mhDir)
    val e = SnapshotIndex.currentEpoch(spark, mhDir)
    SnapshotIndex.append(spark, batch, mhDir, "doc_id", "text", n = 3)
    assert(SnapshotIndex.compact(spark, mhDir) === e + 1)
    val mhRows = rowsPerId(s"$mhDir/epoch=${e + 1}/shingles")
    assert(mhRows.nonEmpty && mhRows.values.forall(_ == 1L),
      "the compact must capture one shingle row per batch doc")
    val mhProbes = mhProbe(SnapshotIndex.load(spark, mhDir).index)
    SnapshotIndex.appendFrom(spark, batch, mhDir, e, "doc_id", "text", n = 3)
    assert(rowsPerId(s"$mhDir/epoch=${e + 1}/shingles") === mhRows,
      "a captured batch must not be re-appended into the new epoch")
    assert(mhProbe(SnapshotIndex.load(spark, mhDir).index) === mhProbes)

    // SimHash: the same interleaving over the block table
    def shProbe(idx: SimHashIndex.Index) =
      SimHashIndex.probe(idx, fresh, "doc_id", "text", maxDist = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val shDir = java.nio.file.Files.createTempDirectory("graft-sh-once").toString
    SimHashSnapshot.init(SimHashIndex.build(base, "doc_id", "text"),
      spark, shDir)
    val f = SimHashSnapshot.currentEpoch(spark, shDir)
    SimHashSnapshot.append(spark, batch, shDir, "doc_id", "text")
    assert(SimHashSnapshot.compact(spark, shDir) === f + 1)
    val shRows = rowsPerId(s"$shDir/epoch=${f + 1}/blocks")
    assert(shRows.keySet === batchIds &&
      shRows.values.forall(_ == SimHash.Blocks.toLong),
      "the compact must capture every batch doc's blocks once")
    val shProbes = shProbe(SimHashSnapshot.load(spark, shDir).index)
    SimHashSnapshot.appendFrom(spark, batch, shDir, f, "doc_id", "text")
    assert(rowsPerId(s"$shDir/epoch=${f + 1}/blocks") === shRows,
      "a captured batch must not be re-appended into the new epoch")
    assert(shProbe(SimHashSnapshot.load(spark, shDir).index) === shProbes)
  }

  test("MinHash store re-appends a batch whose shingles the new epoch " +
      "holds without its bands") {
    import graft.dedup.{MinHashIndex, SnapshotIndex}
    import graft.util.Epochs
    val docs = graft.util.Tables(spark, sf).documents
    val base = docs.filter(pmod(col("doc_id"), lit(5)) < 3)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 3)
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    // batch docs that find themselves through the band join
    def selfMatched(idx: MinHashIndex.Index): Set[Long] =
      MinHashIndex.probe(idx, batch, "doc_id", "text", n = 3, tau = 0.7)
        .filter(col("new_id") === col("seen_id"))
        .collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-mh-torn").toString
    val baseIdx = MinHashIndex.build(base, "doc_id", "text", n = 3)
    SnapshotIndex.init(baseIdx, spark, dir)
    // epoch 1 as a rewrite that listed the batch's shingles after they
    // committed and its bands before they did: base plus batch
    // shingles, no batch bands
    val e1 = Epochs.epochPath(dir, 1L)
    MinHashIndex.save(baseIdx, e1)
    MinHashLSH.shingled(batch, "doc_id", "text", 3)
      .write.mode("append").parquet(s"$e1/shingles")
    Epochs.publish(spark, dir, 1L)
    assert(selfMatched(SnapshotIndex.load(spark, dir).index).isEmpty)
    SnapshotIndex.appendFrom(spark, batch, dir, 0L, "doc_id", "text", n = 3)
    assert(SnapshotIndex.currentEpoch(spark, dir) === 1L)
    val bandIds = spark.read.parquet(s"$e1/bands")
      .filter(col("doc_id").isInCollection(batchIds))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(bandIds === batchIds,
      "the re-append must restore the bands the rewrite missed")
    assert(selfMatched(SnapshotIndex.load(spark, dir).index) === batchIds,
      "every batch doc must be probeable in the new epoch")
  }

  test("Epochs is artifact-agnostic: a plain parquet table gets the " +
      "same publish/pin/retire/fallback guarantees the index does") {
    import spark.implicits._
    import graft.util.Epochs
    val dir = java.nio.file.Files.createTempDirectory("graft-epochs").toString
    // epoch 0: any artifact shape — here one plain parquet table
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"${Epochs.epochPath(dir, 0L)}/t")
    Epochs.publish(spark, dir, 0L)
    assert(Epochs.current(spark, dir) === 0L)
    // an UNPUBLISHED half-written epoch is invisible
    Seq((9L, "junk")).toDF("id", "v")
      .write.parquet(s"${Epochs.epochPath(dir, 7L)}/t")
    assert(Epochs.current(spark, dir) === 0L)
    assert(Epochs.published(spark, dir) === Seq(0L))
    // (the junk epoch stays on disk, unpublished — invisible forever)
    // rewriteToNextChecked: the generic maintenance loop
    val e1 = Epochs.rewriteToNextChecked(spark, dir) { (cur, next) =>
      spark.read.parquet(s"$cur/t").filter($"id" =!= 2L)
        .write.parquet(s"$next/t")
    }
    assert(e1 === 1L && Epochs.current(spark, dir) === 1L)
    assert(spark.read.parquet(s"${Epochs.epochPath(dir, 1L)}/t")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // retention: a second rewrite retires epoch 0
    val e2 = Epochs.rewriteToNextChecked(spark, dir) { (cur, next) =>
      spark.read.parquet(s"$cur/t").write.parquet(s"$next/t")
    }
    assert(e2 === 2L)
    assert(Epochs.published(spark, dir) === Seq(1L, 2L))
    // pointer-loss crash window: fallback = max published
    new java.io.File(s"$dir/_CURRENT").delete()
    assert(Epochs.current(spark, dir) === 2L)
  }

  test("Epochs lease: owner metadata on the lock, conflicts name the " +
      "holder, and a dead owner recovers ONLY through explicit " +
      "breakStaleLease") {
    import graft.util.Epochs
    val dir = java.nio.file.Files.createTempDirectory("graft-lease").toString
    val myPid = s"#${ProcessHandle.current().pid()}"
    Epochs.withMaintenanceLease(spark, dir) {
      // live lease: the lock records THIS process and its acquire time
      val owner = Epochs.leaseOwner(spark, dir).get
      assert(owner.contains(myPid) && owner.contains("acquired_ms="))
      // a second maintainer fails loudly, NAMING the holder — the
      // orchestrator's "is that owner alive" signal
      val conflict = intercept[IllegalStateException] {
        Epochs.withMaintenanceLease(spark, dir) { () }
      }
      assert(conflict.getMessage.contains("single-maintainer"))
      assert(conflict.getMessage.contains(myPid))
      // breaking a lease younger than minAge refuses loudly
      val young = intercept[IllegalStateException] {
        Epochs.breakStaleLease(spark, dir, minAgeMs = 3600000L)
      }
      assert(young.getMessage.contains("refusing"))
    }
    assert(!Epochs.maintenanceHeld(spark, dir))
    // dead owner: lock present, no live process — simulate the crash
    // by planting a lock whose acquired_ms is long past
    val lock = java.nio.file.Paths.get(s"$dir/_MAINTENANCE.lock")
    java.nio.file.Files.write(lock, ("owner=deadhost#99999 " +
      s"acquired_ms=${System.currentTimeMillis() - 600000L}").getBytes("UTF-8"))
    // appenders diagnose loudly, naming the dead owner and the recovery
    val stuck = intercept[IllegalStateException] {
      Epochs.awaitNoMaintenance(spark, dir, timeoutMs = 200L)
    }
    assert(stuck.getMessage.contains("deadhost#99999"))
    assert(stuck.getMessage.contains("breakStaleLease"))
    // recovery is explicit: break succeeds past minAge and returns the
    // dead owner's record; the fence works again afterwards
    assert(Epochs.breakStaleLease(spark, dir, minAgeMs = 60000L)
      .contains("deadhost#99999"))
    assert(!Epochs.maintenanceHeld(spark, dir))
    Epochs.withMaintenanceLease(spark, dir) {
      assert(Epochs.maintenanceHeld(spark, dir))
    }
    assert(!Epochs.maintenanceHeld(spark, dir))
    // a metadata-less lock (pre-metadata layout / torn write): age is
    // unprovable, so break refuses and directs manual removal
    java.nio.file.Files.createFile(lock)
    val torn = intercept[IllegalStateException] {
      Epochs.breakStaleLease(spark, dir, minAgeMs = 0L)
    }
    assert(torn.getMessage.contains("by hand"))
    java.nio.file.Files.delete(lock)
    // no lease at all: loud, not a silent no-op
    intercept[IllegalStateException] {
      Epochs.breakStaleLease(spark, dir, minAgeMs = 0L)
    }
  }

  test("breakStaleLease same-host liveness: a LIVE recorded pid " +
      "refuses the break even past minAge; a dead same-host pid " +
      "breaks; a foreign host stays minAge-only") {
    import graft.util.Epochs
    val dir = java.nio.file.Files.createTempDirectory("graft-lease2").toString
    new java.io.File(dir).mkdirs()
    val lock = java.nio.file.Paths.get(s"$dir/_MAINTENANCE.lock")
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: java.net.UnknownHostException => "unknown-host" }
    val staleMs = System.currentTimeMillis() - 3600000L
    def plant(owner: String): Unit =
      java.nio.file.Files.write(lock,
        s"owner=$owner acquired_ms=$staleMs".getBytes("UTF-8"))

    // (a) same host, pid = THIS test JVM (alive by construction), age
    // one hour: minAge satisfied, liveness probe refuses anyway
    plant(s"$host#${ProcessHandle.current().pid()}")
    val live = intercept[IllegalStateException] {
      Epochs.breakStaleLease(spark, dir, minAgeMs = 0L)
    }
    assert(live.getMessage.contains("STILL ALIVE"))
    assert(live.getMessage.contains(host))
    assert(java.nio.file.Files.exists(lock), "a refused break must not delete")

    // (b) same host, provably dead pid: the break proceeds
    val deadPid = (100000 to 4000000 by 991)
      .find(p => !ProcessHandle.of(p.toLong).isPresent).get
    plant(s"$host#$deadPid")
    assert(Epochs.breakStaleLease(spark, dir, minAgeMs = 0L)
      .contains(s"$host#$deadPid"))
    assert(!java.nio.file.Files.exists(lock))

    // (c) foreign host carrying OUR (live) pid: liveness is not
    // observable from here — minAge-only, exactly the old behavior
    plant(s"definitely-not-$host#${ProcessHandle.current().pid()}")
    assert(Epochs.breakStaleLease(spark, dir, minAgeMs = 60000L)
      .contains("definitely-not-"))
    assert(!java.nio.file.Files.exists(lock))
  }

  test("NoveltyIndex: probe ≡ full recompute; append ≡ rebuild " +
      "(idempotent on retry); compaction and a raced epoch advance " +
      "never change a probe") {
    import graft.dedup.NoveltyIndex
    import spark.implicits._
    val docs = util.Tables(spark, sf).documents
    val old = docs.filter(col("doc_id") % 5 < 4)
    val fresh = docs.filter(col("doc_id") % 5 === 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-novelty").toString
    NoveltyIndex.init(spark, old, dir, "text", 3)

    def probeRows(newSide: org.apache.spark.sql.DataFrame) =
      NoveltyIndex.probe(NoveltyIndex.load(spark, dir), newSide,
          "source", "text", 3)
        .orderBy("source").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    def gramSet: Set[Long] = NoveltyIndex.load(spark, dir).grams
      .distinct().collect().map(_.getLong(0)).toSet

    // (1) probe ≡ the full recompute (q_crawl_novelty's left-join
    // null-count arithmetic), end-to-end through the persisted layout
    val expected = NoveltyIndex.sourceGramHashes(fresh, "source", "text", 3)
      .distinct()
      .join(NoveltyIndex.gramHashes(old, "text", 3).distinct()
        .withColumn("seen", lit(1)), Seq("gh"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_bp", expr("n_novel * 10000 div n_grams"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(probeRows(fresh) === expected)
    assert(expected.exists(_._3 > 0L),
      "fixture must plant genuine novelty or the pin is vacuous")

    // (2) append ≡ rebuild: admitting the crawl leaves EXACTLY the
    // full-corpus gram set; re-probing the same crawl finds nothing new
    NoveltyIndex.append(spark, fresh, dir, "text", 3)
    val rebuilt = NoveltyIndex.gramHashes(docs, "text", 3)
      .distinct().collect().map(_.getLong(0)).toSet
    assert(gramSet === rebuilt, "append must equal a full rebuild")
    val reProbe = probeRows(fresh)
    assert(reProbe.forall(r => r._3 === 0L && r._4 === 0L),
      "an admitted crawl must probe as fully seen")
    // retry idempotence (the physical-duplicate contract): a duplicate
    // append changes neither the gram set nor any probe
    NoveltyIndex.append(spark, fresh, dir, "text", 3)
    assert(gramSet === rebuilt)
    assert(probeRows(fresh) === reProbe)

    // (3) compaction invariance: pinned reader survives, probes are
    // byte-identical, the layout collapses to one file per bucket
    val pinned = NoveltyIndex.load(spark, dir)
    val nPinned = pinned.grams.count()
    assert(NoveltyIndex.compact(spark, dir) === 1L)
    assert(pinned.grams.count() === nPinned,
      "a pinned epoch-0 reader must survive the compaction publish")
    assert(probeRows(fresh) === reProbe)
    assert(gramSet === rebuilt)
    val bucketDirs = new java.io.File(s"$dir/epoch=1/grams")
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("b="))
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { b =>
      val parts = b.listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts === 1, s"bucket ${b.getName}: $parts files after compact")
    }

    // (4) the appenders' fence: an append resolved against a STALE
    // epoch (a compaction published underneath it) must land its novel
    // grams in the CURRENT epoch, exactly once
    val extra = Seq((900001L, "zq1 zq2 zq3 zq4", "srcX"))
      .toDF("doc_id", "text", "source")
    val extraGrams = NoveltyIndex.gramHashes(extra, "text", 3)
      .distinct().collect().map(_.getLong(0)).toSet
    assert(extraGrams.nonEmpty && (extraGrams -- rebuilt) === extraGrams,
      "fixture grams must be genuinely novel")
    NoveltyIndex.appendFrom(spark, extra, dir, startEpoch = 0L, "text", 3)
    assert(gramSet === rebuilt ++ extraGrams,
      "a raced append must be re-appended into the advanced epoch")
    assert(probeRows(extra).forall(_._3 === 0L))
  }

  test("NoveltyIndex bloom tier: prefiltered probe ≡ plain probe at " +
      "init, after appends (multi-row OR-merged sketch), and after " +
      "compaction; the sketch denies no file gram") {
    import graft.dedup.NoveltyIndex
    val docs = util.Tables(spark, sf).documents
    val old = docs.filter(col("doc_id") % 5 < 4)
    val fresh = docs.filter(col("doc_id") % 5 === 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-nvbloom").toString
    NoveltyIndex.init(spark, old, dir, "text", 3)

    def rows(newSide: org.apache.spark.sql.DataFrame, pf: Boolean) =
      NoveltyIndex.probe(NoveltyIndex.load(spark, dir), newSide,
          "source", "text", 3, prefilter = pf)
        .orderBy("source").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq

    // init writes the sketch; prefilter ≡ plain with genuine novelty
    val snap0 = NoveltyIndex.load(spark, dir)
    assert(snap0.bloom.nonEmpty, "init must persist the epoch's sketch")
    val plain0 = rows(fresh, pf = false)
    assert(plain0.exists(_._3 > 0L), "fixture must plant novelty")
    assert(rows(fresh, pf = true) === plain0)

    // the no-false-negative half, directly: every indexed gram is
    // bloom-positive (a single denial would turn a seen gram novel)
    val bf = snap0.bloom.get
    val denied = snap0.grams.collect().map(_.getLong(0))
      .count(g => !graft.functions.BloomUtil.mightContain(bf, g))
    assert(denied === 0, s"$denied indexed grams denied by the sketch")

    // append accretes a SECOND bloom row at the same geometry; the
    // OR-merged sketch must still cover everything
    NoveltyIndex.append(spark, fresh, dir, "text", 3)
    val postAppend = rows(fresh, pf = false)
    assert(postAppend.forall(r => r._3 === 0L),
      "an admitted crawl must probe fully seen")
    assert(rows(fresh, pf = true) === postAppend)
    val snap1 = NoveltyIndex.load(spark, dir)
    val bf1 = snap1.bloom.get
    val denied1 = snap1.grams.collect().map(_.getLong(0))
      .count(g => !graft.functions.BloomUtil.mightContain(bf1, g))
    assert(denied1 === 0,
      s"$denied1 appended grams denied by the OR-merged sketch")

    // compaction right-sizes to ONE fresh row and parity still holds
    NoveltyIndex.compact(spark, dir)
    val bloomFiles = new java.io.File(s"$dir/epoch=1/bloom")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(bloomFiles === 1,
      s"compaction must rebuild a single sketch row, saw $bloomFiles files")
    assert(rows(fresh, pf = true) === rows(fresh, pf = false))

    // a snapshot with NO sketch ignores the prefilter request (plain
    // path, identical output) instead of failing or silently skipping
    val bare = NoveltyIndex.load(spark, dir).copy(bloom = None)
    val bareRows = NoveltyIndex.probe(bare, fresh, "source", "text", 3,
        prefilter = true)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(bareRows === rows(fresh, pf = false))
  }

  test("NoveltyIndex degenerate corpora: single-gram init sizes a " +
      "legal sketch (k ≤ 32); empty-corpus init publishes sketchless " +
      "and every probe tier still answers") {
    import graft.dedup.NoveltyIndex
    import spark.implicits._
    // ONE distinct trigram in the whole corpus: optimal k would be 44
    // without the sizing floor — init must not crash and the sketch
    // must still be exact-parity (r13 review finding)
    val one = Seq((1L, "alpha beta gamma", "srcA"),
      (2L, "alpha beta gamma", "srcB")).toDF("doc_id", "text", "source")
    val d1 = java.nio.file.Files.createTempDirectory("graft-nv-one").toString
    NoveltyIndex.init(spark, one, d1, "text", 3)
    val s1 = NoveltyIndex.load(spark, d1)
    assert(s1.bloom.nonEmpty)
    val probeNew = Seq((3L, "delta epsilon zeta eta", "srcC"))
      .toDF("doc_id", "text", "source")
    def rows(snap: NoveltyIndex.Snapshot, pf: Boolean) =
      NoveltyIndex.probe(snap, probeNew, "source", "text", 3, prefilter = pf)
        .orderBy("source").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    assert(rows(s1, pf = true) === rows(s1, pf = false))
    assert(rows(s1, pf = false) === Seq(("srcC", 2L, 2L, 10000L)))
    val approx1 = NoveltyIndex.probeApprox(s1, probeNew, "source", "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(approx1.head._1 === "srcC" && approx1.head._2 === 2L &&
      approx1.head._3 <= 2L)

    // EMPTY corpus: init publishes a sketchless epoch (nothing to
    // sketch), probe answers everything-novel, prefilter request is a
    // no-op, probeApprox refuses loudly
    val empty = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    val d0 = java.nio.file.Files.createTempDirectory("graft-nv-empty").toString
    NoveltyIndex.init(spark, empty, d0, "text", 3)
    val s0 = NoveltyIndex.load(spark, d0)
    assert(s0.bloom.isEmpty)
    assert(rows(s0, pf = true) === Seq(("srcC", 2L, 2L, 10000L)))
    intercept[IllegalStateException] {
      NoveltyIndex.probeApprox(s0, probeNew, "source", "text", 3)
    }
  }

  test("NoveltyIndex.probeApprox (zero-join tier): n_grams ≡ exact, " +
      "n_novel_lb a one-sided LOWER bound within the fpp budget, " +
      "deterministic, loud on a sketchless snapshot") {
    import graft.dedup.NoveltyIndex
    val docs = util.Tables(spark, sf).documents
    val old = docs.filter(col("doc_id") % 5 < 4)
    val fresh = docs.filter(col("doc_id") % 5 === 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-nvapprox").toString
    NoveltyIndex.init(spark, old, dir, "text", 3)
    val snap = NoveltyIndex.load(spark, dir)
    def collectMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val exact = collectMap(
      NoveltyIndex.probe(snap, fresh, "source", "text", 3))
    val approx = collectMap(
      NoveltyIndex.probeApprox(snap, fresh, "source", "text", 3))
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (src, (ng, novel, bp)) =>
      val (ngA, lb, bpA) = approx(src)
      assert(ngA === ng, s"$src: n_grams must match the exact probe")
      assert(lb >= 0L && lb <= novel,
        s"$src: lb $lb must lower-bound exact $novel (one-sided error)")
      // expected deficit fpp*n_grams (0.005); generous 10x slack so the
      // pin never flakes on hash luck while still catching a broken
      // direction (a deficit of n_grams/2 means the sketch is noise)
      assert(novel - lb <= math.max(3L, (0.05 * ng).toLong),
        s"$src: deficit ${novel - lb} exceeds the fpp budget on $ng grams")
      assert(bpA <= bp)
    }
    assert(exact.values.exists(_._2 > 0L), "fixture must plant novelty")
    // pure hash artifact: byte-identical on a re-run
    val again = collectMap(
      NoveltyIndex.probeApprox(snap, fresh, "source", "text", 3))
    assert(again === approx)
    // sketchless snapshot: loud, never a silent fallback to the join
    val noSketch = intercept[IllegalStateException] {
      NoveltyIndex.probeApprox(snap.copy(bloom = None), fresh,
        "source", "text", 3)
    }
    assert(noSketch.getMessage.contains("no membership sketch"))
  }

  /** Relative path → bytes of every parquet file under `root`. */
  private def parquetBytes(root: String): Map[String, Seq[Byte]] = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(base)) Map.empty
    else {
      val s = java.nio.file.Files.walk(base)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => base.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq)
        .toMap
      finally s.close()
    }
  }

  /** Bucket directory → parquet file count under an epoch's grams/. */
  private def bucketFileCounts(epochDir: String): Map[String, Int] =
    new java.io.File(s"$epochDir/grams").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("b="))
      .map(b => b.getName -> b.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap

  /** q_crawl_novelty's full-recompute arithmetic: per-source novelty of
    * `crawl` against every gram of `seen`.
    */
  private def recomputedNovelty(crawl: org.apache.spark.sql.DataFrame,
      seen: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, Long)] = {
    import graft.dedup.NoveltyIndex
    NoveltyIndex.sourceGramHashes(crawl, "source", "text", 3).distinct()
      .join(NoveltyIndex.gramHashes(seen, "text", 3).distinct()
        .withColumn("seen", lit(1)), Seq("gh"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_bp", expr("n_novel * 10000 div n_grams"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
  }

  private def noveltyRows(rows: Iterable[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)

  test("NoveltyIndex layout: each small append (fused and append()) adds " +
      "exactly ONE delta/ file and leaves the bucket files byte-identical; " +
      "compaction folds delta back into one file per bucket; the bucket " +
      "count follows the gram count") {
    import graft.dedup.NoveltyIndex
    import NoveltyIndex.{GramsPerFile, NBuckets, filesFor}
    assert(Seq(0L, 1L, GramsPerFile, GramsPerFile + 1, 1000000000L)
      .map(filesFor) === Seq(1, 1, 1, 2, NBuckets))

    val docs = util.Tables(spark, sf).documents
    val old = docs.filter(col("doc_id") % 10 < 6)
    val crawls = (6 to 9).map(m => docs.filter(col("doc_id") % 10 === m))
    val dir = java.nio.file.Files.createTempDirectory("graft-nvlayout").toString
    val e0 = s"$dir/epoch=0"
    NoveltyIndex.init(spark, old, dir, "text", 3)
    assert(bucketFileCounts(e0) === Map("b=0" -> 1),
      "a test-scale index is one bucket of one file")
    val buckets0 = parquetBytes(s"$e0/grams")

    def probeRows(crawl: org.apache.spark.sql.DataFrame, pf: Boolean) =
      noveltyRows(NoveltyIndex.probe(NoveltyIndex.load(spark, dir), crawl,
        "source", "text", 3, prefilter = pf).collect())

    var seen = old
    crawls.zipWithIndex.foreach { case (crawl, i) =>
      val want = recomputedNovelty(crawl, seen)
      assert(want.exists(_._3 > 0L), s"crawl $i must plant novelty")
      assert(probeRows(crawl, pf = false) === want)
      assert(probeRows(crawl, pf = true) === want)
      if (i % 2 == 0) {
        val got = NoveltyIndex.probeAndAdmit(spark,
          NoveltyIndex.load(spark, dir), crawl, "source", "text", 3,
          prefilter = true)
        assert(noveltyRows(got) === want)
      } else NoveltyIndex.append(spark, crawl, dir, "text", 3)
      seen = seen.unionByName(crawl)
      assert(parquetBytes(s"$e0/grams") === buckets0,
        s"append $i rewrote or added bucket files")
      assert(parquetBytes(s"$e0/delta").size === i + 1,
        s"append $i must add exactly one delta file")
      // the next probe sees the admission: the crawl is fully seen
      assert(probeRows(crawl, pf = true).forall(_._3 === 0L))
    }
    // every probe tier over buckets ∪ delta ≡ the full recompute
    val all = docs.filter(col("doc_id") % 2 === 0)
    assert(probeRows(all, pf = true) === recomputedNovelty(all, seen))
    assert(probeRows(all, pf = false) === recomputedNovelty(all, seen))

    def gramSet: Set[Long] = NoveltyIndex.load(spark, dir).grams
      .distinct().collect().map(_.getLong(0)).toSet
    val before = gramSet
    assert(before === NoveltyIndex.gramHashes(docs, "text", 3)
      .distinct().collect().map(_.getLong(0)).toSet)
    assert(NoveltyIndex.compact(spark, dir) === 1L)
    assert(parquetBytes(s"$dir/epoch=1/delta").isEmpty,
      "compaction must fold delta/ into the buckets")
    assert(filesFor(before.size.toLong) === 1)
    assert(bucketFileCounts(s"$dir/epoch=1") === Map("b=0" -> 1))
    assert(gramSet === before)
    assert(probeRows(all, pf = true) === recomputedNovelty(all, seen))
  }

  test("NoveltyIndex: an epoch in the fixed-64-bucket layout (appends " +
      "inside the buckets) loads, probes like a fresh index over the same " +
      "grams, takes a fused append into delta/, and compacts to the " +
      "data-sized layout with the identical gram set") {
    import graft.dedup.NoveltyIndex
    val docs = util.Tables(spark, sf).documents
    val old = docs.filter(col("doc_id") % 4 === 0)
    val admitted = docs.filter(col("doc_id") % 4 === 1)
    val crawl = docs.filter(col("doc_id") % 4 === 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-nv64").toString
    val e0 = s"$dir/epoch=0"

    // the old writer, by hand: init's 64 co-located buckets, one
    // appended crawl's novel grams written per bucket, and one bloom row
    // each at init geometry
    val oldG = NoveltyIndex.gramHashes(old, "text", 3).distinct()
    val novelG = NoveltyIndex.gramHashes(admitted, "text", 3).distinct()
      .join(oldG, Seq("gh"), "left_anti")
    def writeBuckets(g: org.apache.spark.sql.DataFrame, mode: String): Unit =
      g.withColumn("b", pmod(col("gh"), lit(64))).repartition(col("b"))
        .write.mode(mode).partitionBy("b").parquet(s"$e0/grams")
    writeBuckets(oldG, "overwrite")
    writeBuckets(novelG, "append")
    graft.functions.GraftFunctions.register(spark)
    val n = math.max(64L, oldG.count())
    val m = graft.functions.BloomUtil.optimalNumBits(n, NoveltyIndex.BloomFpp)
    val k = math.min(32, graft.functions.BloomUtil.optimalNumHashes(m, n))
    Seq(oldG, novelG).foreach(g =>
      g.agg(call_function("graft_bloom_agg", col("gh"), lit(m), lit(k)).as("bf"))
        .coalesce(1).write.mode("append").parquet(s"$e0/bloom"))
    util.Epochs.publish(spark, dir, 0L)
    val oldLayout = bucketFileCounts(e0)
    assert(oldLayout.size === 64 && oldLayout.values.exists(_ > 1),
      "fixture must carry 64 buckets with appended files inside them")
    val buckets0 = parquetBytes(s"$e0/grams")

    def gramSet(d: String): Set[Long] = NoveltyIndex.load(spark, d).grams
      .distinct().collect().map(_.getLong(0)).toSet
    val want = NoveltyIndex.gramHashes(old.unionByName(admitted), "text", 3)
      .distinct().collect().map(_.getLong(0)).toSet
    assert(gramSet(dir) === want)
    val snap = NoveltyIndex.load(spark, dir)
    assert(snap.bloom.nonEmpty)

    val freshDir = java.nio.file.Files.createTempDirectory("graft-nvfresh").toString
    NoveltyIndex.init(spark, old.unionByName(admitted), freshDir, "text", 3)
    def probeRows(d: String, pf: Boolean) =
      noveltyRows(NoveltyIndex.probe(NoveltyIndex.load(spark, d), crawl,
        "source", "text", 3, prefilter = pf).collect())
    val freshRows = probeRows(freshDir, pf = false)
    assert(freshRows.exists(_._3 > 0L), "fixture must plant novelty")
    assert(probeRows(dir, pf = false) === freshRows)
    assert(probeRows(dir, pf = true) === freshRows)

    val admitRows = NoveltyIndex.probeAndAdmit(spark, snap, crawl,
      "source", "text", 3, prefilter = true)
    assert(noveltyRows(admitRows) === freshRows)
    assert(parquetBytes(s"$e0/grams") === buckets0,
      "the fused append must leave the old buckets untouched")
    assert(parquetBytes(s"$e0/delta").size === 1)
    val all = want ++ NoveltyIndex.gramHashes(crawl, "text", 3)
      .distinct().collect().map(_.getLong(0))
    assert(gramSet(dir) === all)

    assert(NoveltyIndex.compact(spark, dir) === 1L)
    assert(bucketFileCounts(s"$dir/epoch=1") === Map("b=0" -> 1))
    assert(parquetBytes(s"$dir/epoch=1/delta").isEmpty)
    assert(gramSet(dir) === all)
    assert(probeRows(dir, pf = true).forall(_._3 === 0L))
  }

  test("NoveltyIndex publish order: between the bloom rename and the " +
      "delta rename a reader's prefiltered probe ≡ plain and the sketch " +
      "denies no index gram; a crash there leaves extra bloom bits only — " +
      "the retried append and compaction give the rebuild's gram set, and " +
      "the leftover staging dir is never read and dies with its epoch") {
    import graft.dedup.NoveltyIndex
    import spark.implicits._
    val docs = util.Tables(spark, sf).documents
    val old = docs.filter(col("doc_id") % 3 === 0)
    val crawl = docs.filter(col("doc_id") % 3 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-nvpublish").toString
    val e0 = s"$dir/epoch=0"
    NoveltyIndex.init(spark, old, dir, "text", 3)
    val snap = NoveltyIndex.load(spark, dir)

    // the crawl's fused append, staged as probeAndAdmit stages it: its
    // novel grams and their bloom row at the epoch's geometry
    val novel = NoveltyIndex.gramHashes(crawl, "text", 3).distinct()
      .join(snap.grams, Seq("gh"), "left_anti")
    val (k, words) = graft.functions.BloomUtil.deserializeWords(snap.bloom.get)
    graft.functions.GraftFunctions.register(spark)
    val row = novel.agg(call_function("graft_bloom_agg", col("gh"),
      lit(words.length * 64), lit(k))).head().getAs[Array[Byte]](0)
    val staged = NoveltyIndex.stageAppend(spark, e0, Some(row), novel,
      novel.count())
    assert(NoveltyIndex.publishStaged(spark, staged, e0, "bloom").size === 1)
    // the process dies here: the delta rename never runs

    def gramSet: Set[Long] = NoveltyIndex.load(spark, dir).grams
      .distinct().collect().map(_.getLong(0)).toSet
    def gramsOf(d: org.apache.spark.sql.DataFrame): Set[Long] =
      NoveltyIndex.gramHashes(d, "text", 3).distinct()
        .collect().map(_.getLong(0)).toSet
    def probeRows(s: NoveltyIndex.Snapshot, pf: Boolean) =
      noveltyRows(NoveltyIndex.probe(s, crawl, "source", "text", 3,
        prefilter = pf).collect())
    val mid = NoveltyIndex.load(spark, dir)
    assert(!(mid.bloom.get sameElements snap.bloom.get),
      "the published bloom row must be visible to a reader")
    val want = recomputedNovelty(crawl, old)
    assert(want.exists(_._3 > 0L), "fixture must plant novelty")
    assert(probeRows(mid, pf = false) === want)
    assert(probeRows(mid, pf = true) === want)
    val denied = mid.grams
      .crossJoin(broadcast(Seq(Tuple1(mid.bloom.get)).toDF("bf")))
      .filter(!call_function("graft_bloom_contains", col("bf"), col("gh")))
      .count()
    assert(denied === 0L, "the sketch denies an index gram")
    // the staged delta file is never read
    assert(new java.io.File(s"$staged/part=delta").listFiles()
      .exists(_.getName.endsWith(".parquet")))
    assert(gramSet === gramsOf(old))

    // the retried batch appends again; compaction keeps the rebuild's set
    NoveltyIndex.append(spark, crawl, dir, "text", 3)
    val rebuilt = gramsOf(old.unionByName(crawl))
    assert(gramSet === rebuilt)
    assert(NoveltyIndex.compact(spark, dir) === 1L)
    assert(gramSet === rebuilt)
    assert(probeRows(NoveltyIndex.load(spark, dir), pf = true)
      .forall(_._3 === 0L))
    assert(new java.io.File(staged).exists, "epoch 0 is still retained")
    assert(NoveltyIndex.compact(spark, dir) === 2L)
    assert(!new java.io.File(e0).exists && !new java.io.File(staged).exists,
      "the leftover staging dir must retire with its epoch")
    assert(gramSet === rebuilt)
  }

  test("NoveltyIndex: re-admitting an already-admitted crawl (append() " +
      "and the fused probeAndAdmit) writes nothing — the epoch's bloom/ " +
      "and delta/ listings are unchanged") {
    import graft.dedup.NoveltyIndex
    val docs = util.Tables(spark, sf).documents
    val old = docs.filter(col("doc_id") % 3 === 0)
    val crawl = docs.filter(col("doc_id") % 3 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-nvseen").toString
    val e0 = s"$dir/epoch=0"
    NoveltyIndex.init(spark, old, dir, "text", 3)
    NoveltyIndex.append(spark, crawl, dir, "text", 3)
    def listing(): Seq[String] =
      Seq("bloom", "delta").flatMap(part =>
        Option(new java.io.File(s"$e0/$part").list()).toSeq.flatten
          .map(f => s"$part/$f")).sorted
    val admitted = listing()
    assert(admitted.exists(f => f.startsWith("delta/") && f.endsWith(".parquet")),
      "the first append must admit novel grams")

    NoveltyIndex.append(spark, crawl, dir, "text", 3)
    assert(listing() === admitted, "a fully-seen append() wrote files")
    val rows = NoveltyIndex.probeAndAdmit(spark, NoveltyIndex.load(spark, dir),
      crawl, "source", "text", 3, prefilter = true)
    assert(rows.nonEmpty && rows.forall(_.getLong(2) === 0L))
    assert(listing() === admitted, "a fully-seen probeAndAdmit wrote files")
    assert(!new java.io.File(e0).list().exists(_.startsWith("_append-")),
      "no staging dir may be left behind")
  }

  test("NoveltyIndex.probeAndAdmit across an epoch advance: a stale " +
      "snapshot's rows equal its probe, and the new epoch holds old ∪ crawl " +
      "with no gh twice in its files") {
    import graft.dedup.NoveltyIndex
    val docs = util.Tables(spark, sf).documents
    val old = docs.filter(col("doc_id") % 3 === 0)
    val crawl = docs.filter(col("doc_id") % 3 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-nvadvance").toString
    NoveltyIndex.init(spark, old, dir, "text", 3)
    val stale = NoveltyIndex.load(spark, dir)
    val want = noveltyRows(NoveltyIndex.probe(stale, crawl, "source", "text", 3)
      .collect())
    assert(want.exists(_._3 > 0L), "fixture must plant novelty")

    // a compaction publishes epoch 1 between the load and the admit
    assert(NoveltyIndex.compact(spark, dir) === 1L)
    val got = NoveltyIndex.probeAndAdmit(spark, stale, crawl,
      "source", "text", 3, prefilter = true)
    assert(noveltyRows(got) === want)

    val now = NoveltyIndex.load(spark, dir)
    assert(now.epoch === 1L)
    val held = now.grams.collect().map(_.getLong(0)).toSeq
    assert(held.size === held.distinct.size, "a gh is held twice in epoch 1")
    assert(held.toSet === NoveltyIndex.gramHashes(old.unionByName(crawl),
      "text", 3).distinct().collect().map(_.getLong(0)).toSet)
    // the admission's bloom row landed in epoch 1 too: the prefiltered
    // probe sees the crawl as fully seen
    assert(noveltyRows(NoveltyIndex.probe(now, crawl, "source", "text", 3,
      prefilter = true).collect()).forall(_._3 === 0L))
  }

  test("dedup_inline: planted within-doc repeats collapse keep-first; " +
      "the plan's only exchange is the result ORDER BY") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_inline").toString
    val w = (1 to 10).map("a" + _).mkString(" ")   // one 10-word segment
    val v = (1 to 10).map("b" + _).mkString(" ")
    Seq(
      (1L, s"$w $w $v"),    // segs [w, w, v] → kept [w, v]
      (2L, v),              // no repeats
      (3L, s"$w $w $w"))    // fully repeated → kept [w]
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val rows = graft.queries.DedupQueries.dedupInline(spark, tmp).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    assert(rows(1L)._1 === 3L && rows(1L)._2 === 2L)
    assert(rows(1L)._3 === 0.3333)
    assert(rows(2L) === ((1L, 1L, 0.0,
      org.apache.commons.codec.digest.DigestUtils.md5Hex(v))))
    assert(rows(3L) === ((3L, 1L, 0.6667,
      org.apache.commons.codec.digest.DigestUtils.md5Hex(w))))
    assert(rows(1L)._4 ===
      org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$w $v"))
    // map-side contract: the one exchange is the final rangepartitioning
    val plan = planOf(graft.queries.DedupQueries.dedupInline(spark, sf))
    assert("Exchange".r.findAllIn(plan).size === 1, plan.take(1000))
  }

  test("dedup_recall: exact-copy fixture scores recall 1.0; real-corpus " +
      "gate is internally consistent and bounded") {
    import spark.implicits._
    // 10 disjoint-vocabulary texts, 3 of them with exact copies —
    // identical shingle sets ALWAYS collide, so recall must be exactly 1
    val texts = (0 until 10).map(i => s"w${i}a w${i}b w${i}c w${i}d w${i}e")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      Seq((100L, texts(0)), (101L, texts(1)), (102L, texts(2)))
    val r = graft.dedup.MinHashLSH.pairRecall(docs.toDF("doc_id", "text"),
      "doc_id", "text", n = 3, tau = 0.7, sampleMod = 1L, seed = 13L).head()
    assert(r.getLong(0) === 13L && r.getLong(1) === 3L && r.getLong(2) === 3L)
    assert(r.getDouble(3) === 1.0)
    // the registered budget-derived gate on the real corpus: at n=500
    // the in-plan modulus resolves to 1, so n_sample IS the corpus
    val q = graft.queries.DedupQueries.dedupRecall(spark, sf).head()
    assert(q.getLong(0) === 500L, "smod must resolve to 1 at n=500")
    assert(q.getLong(2) <= q.getLong(1))
    if (q.getLong(1) > 0)
      assert(q.getDouble(3) >= 0.5 && q.getDouble(3) <= 1.0,
        s"recall ${q.getDouble(3)}")
  }

  test("pairRecallBudget: the in-plan modulus follows ⌈n/√(2·budget)⌉ and " +
      "samples exactly the seeded-hash congruence class") {
    import spark.implicits._
    // 300 docs, budget 50 → smod = ceil(300/10) = 30: the sample is the
    // ids whose seeded md5 key ≡ 0 (mod 30) — replayed driver-side
    val docs = (0 until 300)
      .map(i => (i.toLong, s"v${i}a v${i}b v${i}c v${i}d v${i}e"))
      .toDF("doc_id", "text")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def key(id: Long): Long =
      java.lang.Long.parseLong(md5hex(s"$id:13").take(8), 16)
    val wantSample = (0 until 300).count(i => key(i.toLong) % 30 == 0)
    val r = graft.dedup.MinHashLSH.pairRecallBudget(docs, "doc_id", "text",
      n = 3, tau = 0.7, pairBudget = 50L, seed = 13L).head()
    assert(r.getLong(0) === wantSample.toLong,
      s"sample ${r.getLong(0)} != replayed congruence class $wantSample")
    // disjoint vocabularies: no true pair in the sample → recall NULL
    assert(r.getLong(1) === 0L && r.isNullAt(3))
  }

  test("SimHashIndex: probe equals the restricted full run; append ≡ rebuild; " +
      "compaction probe-invariant") {
    val docs = graft.util.Tables(spark, sf).documents
    val day1 = docs.filter(pmod(col("doc_id"), lit(5)) < 3)
    val day2 = docs.filter(pmod(col("doc_id"), lit(5)) === 3)
    val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    def probeSet(idx: graft.dedup.SimHashIndex.Index) =
      graft.dedup.SimHashIndex.probe(idx, fresh, "doc_id", "text", maxDist = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val seen = day1.unionByName(day2)
    val probed = probeSet(graft.dedup.SimHashIndex.build(seen, "doc_id", "text"))
    // ground truth: the all-pairs detector on the whole corpus,
    // restricted to cross-split pairs, re-oriented (new, seen)
    val full = graft.dedup.SimHash
      .nearDuplicates(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .flatMap { case (a, b, h) =>
        (a % 5, b % 5) match {
          case (4, sm) if sm < 4 => Some((a, b, h))
          case (sm, 4) if sm < 4 => Some((b, a, h))
          case _ => None
        }
      }.toSet
    assert(probed === full, "incremental probe must equal the restricted full run")
    assert(probed.nonEmpty, "the split must actually contain cross pairs")
    // day-2: day1 as epoch 0, append day2, probe — must equal the
    // one-shot
    import graft.dedup.SimHashSnapshot
    val dir = java.nio.file.Files.createTempDirectory("graft-shidx").toString
    SimHashSnapshot.init(graft.dedup.SimHashIndex.build(day1, "doc_id", "text"),
      spark, dir)
    SimHashSnapshot.append(spark, day2, dir, "doc_id", "text")
    val appended = probeSet(SimHashSnapshot.load(spark, dir).index)
    assert(appended === probed, "append-then-probe must equal rebuild-then-probe")
    val before = filesPerPartition(s"$dir/epoch=0/blocks")
    assert(SimHashSnapshot.compact(spark, dir) === 1L)
    val after = filesPerPartition(s"$dir/epoch=1/blocks")
    assert(after.values.sum < before.values.sum,
      "compaction must shrink block files")
    assert(after.nonEmpty && after.values.forall(_ == 1),
      s"one file per block dir after compaction: $after")
    assert(probeSet(SimHashSnapshot.load(spark, dir).index) === probed,
      "compaction must not change probe results")
    // takedown parity with SnapshotIndex.remove
    val removed = probed.map(_._2).take(1).toSeq
    if (removed.nonEmpty) {
      assert(SimHashSnapshot.remove(spark, dir, removed) === 2L)
      val afterRm = probeSet(SimHashSnapshot.load(spark, dir).index)
      assert(afterRm === probed.filterNot(p => removed.contains(p._2)))
      assert(SimHashSnapshot.remove(spark, dir, Seq(-1L)) === 3L)
      assert(probeSet(SimHashSnapshot.load(spark, dir).index) === afterRm)
    }
    // buildCodes: the same index machinery over arbitrary 64-bit codes
    import spark.implicits._
    val codes = Seq((1L, 0x00FFL), (2L, 0x00FEL), (3L, -1L))
      .toDF("doc_id", "sim")
    val ci = graft.dedup.SimHashIndex.buildCodes(codes, checkpoint = false)
    val hits = ci.blocks.select(col("doc_id")).distinct().count()
    assert(hits === 3L)
  }

  test("dedup_code_pairs: the pigeonhole pair stage is exactly the " +
      "planted within-group pair set — complete AND sound") {
    val n = graft.util.Tables(spark, sf).documents.count()
    val got = graft.queries.DedupQueries.dedupCodePairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every group of 4 contributes exactly C(4,2) = 6 pairs: base↔variant
    // at Hamming 1, variant↔variant at Hamming 2; nothing cross-group
    assert(got.length === (n / 4 * 6).toInt,
      s"expected all within-group pairs, got ${got.length}")
    got.foreach { case (a, b, h) =>
      assert(a / 4 === b / 4, s"cross-group false positive: ($a, $b)")
      val expected = if (a % 4 == 0) 1 else 2
      assert(h === expected, s"pair ($a, $b) hamming $h != $expected")
    }
  }

  test("SimHashSnapshot: pinned readers survive compaction and takedown " +
      "swaps; epoch-advance appends land in the new epoch; retention " +
      "retires old epochs") {
    import graft.dedup.{SimHashIndex, SimHashSnapshot}
    val docs = graft.util.Tables(spark, sf).documents
    val seen = docs.filter(pmod(col("doc_id"), lit(5)) < 4)
    val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    def probeSet(idx: SimHashIndex.Index) =
      SimHashIndex.probe(idx, fresh, "doc_id", "text", maxDist = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-shsnap").toString
    SimHashSnapshot.init(
      SimHashIndex.build(seen, "doc_id", "text"), spark, dir)
    assert(SimHashSnapshot.currentEpoch(spark, dir) === 0L)
    val snap0 = SimHashSnapshot.load(spark, dir)
    val at0 = probeSet(snap0.index)
    assert(at0.nonEmpty)

    // compact publishes epoch 1; the PINNED epoch-0 snapshot still
    // probes identically AFTERWARDS; a fresh load sees epoch 1
    assert(SimHashSnapshot.compact(spark, dir) === 1L)
    assert(probeSet(snap0.index) === at0,
      "reader pinned to epoch 0 must survive the compaction swap")
    val snap1 = SimHashSnapshot.load(spark, dir)
    assert(snap1.epoch === 1L)
    assert(probeSet(snap1.index) === at0, "compaction preserves probes")

    // takedown publishes epoch 2: the new epoch never matches the
    // removed ids; the epoch-1 reader STILL sees them (isolation)
    val removed = at0.map(_._2).take(2).toSeq
    assert(SimHashSnapshot.remove(spark, dir, removed) === 2L)
    val snap2 = SimHashSnapshot.load(spark, dir)
    assert(probeSet(snap2.index) ===
      at0.filterNot(p => removed.contains(p._2)))
    assert(probeSet(snap1.index) === at0,
      "epoch-1 reader must still see the pre-takedown corpus")
    assert(SimHashSnapshot.publishedEpochs(spark, dir) === Seq(1L, 2L))
    assert(probeSet(SimHashSnapshot.loadEpoch(spark, dir, 1L).index) === at0)
    intercept[IllegalArgumentException] {
      SimHashSnapshot.loadEpoch(spark, dir, 0L)
    }
    // crash-window fallback: losing _CURRENT resolves to max published
    new java.io.File(s"$dir/_CURRENT").delete()
    assert(SimHashSnapshot.currentEpoch(spark, dir) === 2L)

    // epoch-advance append race: an appender that resolved epoch 2,
    // then had a compaction publish epoch 3 underneath it, must
    // re-append into the NEW epoch (the SnapshotIndex.appendFrom
    // contract — duplicates harmless, probe distincts)
    val readmitted = docs.filter(col("doc_id").isInCollection(removed.toSet))
    val stale = SimHashSnapshot.currentEpoch(spark, dir)
    assert(SimHashSnapshot.compact(spark, dir) === stale + 1)
    SimHashSnapshot.appendFrom(spark, readmitted, dir, stale,
      "doc_id", "text")
    assert(probeSet(SimHashSnapshot.load(spark, dir).index) === at0,
      "re-admitted docs appended across an epoch advance must probe " +
        "in the new epoch")
    // the next compact (which retires the stale epoch) keeps them
    assert(SimHashSnapshot.compact(spark, dir) === stale + 2)
    assert(probeSet(SimHashSnapshot.load(spark, dir).index) === at0,
      "retiring the stale epoch must not lose re-appended admissions")
  }

  test("dedup_semantic: keep rule matches the quadratic pair set exactly") {
    val emb = graft.util.Tables(spark, sf).embeddings
    val out = graft.queries.DedupQueries.dedupSemantic(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out.size === emb.count(), "one decision per vector")
    // independent ground truth from the quadratic validator: a vector's
    // prior-dup count is how often it appears as the LARGER id of a
    // tau-pair; keep ⇔ that count is zero
    val truth = graft.dedup.EmbeddingDedup
      .pairs(emb, "vec_id", "embedding", tau = 0.4)
      .collect().map(_.getLong(1))
      .groupBy(identity).map { case (id, hits) => id -> hits.length.toLong }
    out.foreach { case (id, (nPrior, keep)) =>
      assert(nPrior === truth.getOrElse(id, 0L),
        s"vector $id prior-dup count")
      assert(keep === (if (nPrior == 0L) 1 else 0), s"vector $id keep flag")
    }
    // the rule actually bites on this corpus (planted near-dups exist)
    assert(out.values.exists(_._2 == 0), "some vector must be dropped")
    assert(out.values.count(_._2 == 1) > out.size / 2,
      "most of the corpus must survive at tau = 0.4")
  }

  test("filterFrequentSegments: boilerplate vanishes from EVERY carrier, " +
      "unique prose survives everywhere") {
    import spark.implicits._
    // 3-token segments; "nav bar boilerplate" planted in docs 1, 2, 3
    val docs = Seq(
      (1L, "nav bar boilerplate alpha beta gamma"),
      (2L, "nav bar boilerplate delta epsilon zeta"),
      (3L, "nav bar boilerplate"),
      (4L, "eta theta iota"))
      .toDF("doc_id", "text")
    val segs = graft.dedup.SegmentDedup.windowSegments(col("text"), 3)
    val out = graft.dedup.SegmentDedup
      .filterFrequentSegments(docs, "doc_id", segs, maxDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // the planted segment is dropped from ALL THREE carriers — including
    // the first, which dedupSegments (first-occurrence mode) would keep
    assert(out(1L) === ((2L, 1L, md5Hex("alpha beta gamma"))), s"doc 1: $out")
    assert(out(2L) === ((2L, 1L, md5Hex("delta epsilon zeta"))), s"doc 2: $out")
    assert(out(3L) === ((1L, 0L, md5Hex(""))), "fully-boilerplate doc empties")
    assert(out(4L) === ((1L, 1L, md5Hex("eta theta iota"))),
      "unique prose untouched")
    // first-occurrence mode disagrees exactly where it should: doc 1
    // keeps the boilerplate copy there
    val firstOcc = graft.dedup.SegmentDedup
      .dedupSegments(docs, "doc_id", segs)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(firstOcc(1L) === 2L, "first-occurrence mode keeps the first copy")
    // hashed-key variant is value-identical at collision-free scale
    val hashed = graft.dedup.SegmentDedup
      .filterFrequentSegments(docs, "doc_id", segs, maxDocs = 2,
        hashKeys = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(hashed === out, "hashKeys must not change the result")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("Winnow fingerprint density is below the full gram index") {
    val docs = graft.util.Tables(spark, sf).documents
      .withColumn("toks", graft.text.TextOps.tokens(col("text")))
    val nGrams = docs
      .select(greatest(size(col("toks")) - 4, lit(0)).as("g"))
      .agg(sum(col("g"))).head().getLong(0)
    val nFps = graft.dedup.Winnow.fingerprints(docs, "doc_id", "toks").count()
    assert(nFps > 0 && nFps < nGrams,
      s"winnowing must select a strict subset: $nFps vs $nGrams grams")
  }

  test("dedup_containment: planted quote found in the right direction, " +
      "invisible to symmetric Jaccard") {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta"
    val container = quote + " " +
      (1 to 30).map(i => s"filler$i").mkString(" ")
    val docs = Seq((1L, quote), (2L, container),
      (3L, "unrelated words entirely different content here"))
      .toDF("doc_id", "text")
    val got = graft.dedup.Containment
      .pairs(docs, "doc_id", "text", n = 3, tau = 0.8, maxDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, 2L, 1.0)),
      "the quote is contained in the container, never the reverse")
    val jac = NgramJaccard
      .pairs(docs, "doc_id", "text", n = 3, tau = 0.8, maxDf = 1000)
      .collect()
    assert(jac.isEmpty,
      "symmetric Jaccard at the same threshold cannot see the pair")
  }

  test("dedup_url: all four spellings of one page fold to one canonical key") {
    import spark.implicits._
    // ids ≡ 3 (mod 97): pages match; 97 ≡ 1 (mod 4) walks the variants
    val dir = java.nio.file.Files.createTempDirectory("graft_url").toString
    Seq(3L, 100L, 197L, 294L).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupQueries.dedupUrl(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      ("https://example.com/page/3?a=1&b=2", 3L, 4L, 4L)))
  }

  test("dedup_url: corpus conservation, canonical form, spelling fold") {
    val ids = graft.util.Tables(spark, sf).documents
      .select(col("doc_id")).collect().map(_.getLong(0))
    val got = DedupQueries.dedupUrl(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._3).sum === ids.length.toLong,
      "every doc lands in exactly one canonical group")
    assert(got.length === ids.map(_ % 97).distinct.length,
      "one group per injected page")
    val canonicalForm = "^https://example\\.com/page/\\d+\\?a=1&b=2$".r
    assert(got.forall(g => canonicalForm.findFirstIn(g._1).isDefined),
      "no scheme/host-case/port/slash/tracker residue may survive")
    // n_spellings can exceed 4: the gclid variant embeds doc_id, so
    // every v3 member of a page is its own spelling
    assert(got.exists(_._4 >= 2) && got.forall(g => g._4 >= 1 && g._4 <= g._3),
      "groups really fold multiple spellings")
    got.foreach { g =>
      val page = "/page/(\\d+)".r.findFirstMatchIn(g._1).get.group(1).toLong
      assert(g._2 === ids.filter(_ % 97 == page).min,
        s"keep_id must be the min doc_id of the page's members: $g")
    }
  }

  test("labelsStar: parity with min-propagation on a 60-hop path (where " +
    "propagation would need 60 rounds), a forest fixture, and the corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 60-hop path: diameter 60 — the star alternation must converge in
    // its default 30 rounds (log²-ish), which min-propagation could not
    val path = (0L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val starPath = labelMap(graft.dedup.ConnectedComponents
      .labelsStar(path, smallCollectMax = 0))
    assert(starPath.keySet === (0L to 60L).toSet)
    assert(starPath.values.toSet === Set(0L), "one component rooted at 0")
    // forest: two components + an isolated edge, shuffled ids
    val forest = Seq((9L, 3L), (3L, 7L), (12L, 14L), (14L, 11L), (21L, 20L))
      .toDF("id_a", "id_b")
    val star = labelMap(graft.dedup.ConnectedComponents
      .labelsStar(forest, smallCollectMax = 0))
    val prop = labelMap(graft.dedup.ConnectedComponents
      .labels(forest, smallCollectMax = 0))
    assert(star === prop)
    assert(star(9L) === 3L && star(12L) === 11L && star(21L) === 20L)
    // real corpus pair graph: byte-identical cluster summaries
    val a = graft.queries.DedupQueries.dedupClusters(spark, sf).collect()
    val b = graft.queries.DedupQueries.dedupClustersStar(spark, sf).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("q_takedown_propagate: closure equals driver-side BFS from the seed " +
    "set; every named doc removed; corpus conserved") {
    import org.apache.spark.sql.functions._
    val docs = graft.util.Tables(spark, sf).documents
    val pairs = graft.dedup.MinHashLSH
      .nearDuplicates(docs, "doc_id", "text", n = 3, tau = 0.7)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map[Long, List[Long]]()
      .withDefaultValue(Nil)
    pairs.foreach { case (a, b) =>
      adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
    val seeds = docs.select(col("doc_id")).collect()
      .map(_.getLong(0)).filter(_ % 97 == 0)
    val removed = scala.collection.mutable.Set[Long](seeds.toIndexedSeq: _*)
    var frontier = seeds.toList
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(adj).filterNot(removed).distinct
      next.foreach(removed += _)
      frontier = next
    }
    val got = graft.queries.DedupQueries.qTakedownPropagate(spark, sf).collect()
    assert(got.map(_.getLong(1)).sum === seeds.length,
      "every doc on the takedown list must be removed as a seed")
    assert(got.map(r => r.getLong(1) + r.getLong(2)).sum === removed.size.toLong,
      "removed count must equal the BFS closure")
    assert(got.map(_.getLong(4)).sum === removed.sum,
      "removed-id audit sum must equal the BFS closure's")
    assert(got.map(r => r.getLong(1) + r.getLong(2) + r.getLong(3)).sum ===
      docs.count(), "seed + propagated + kept must conserve the corpus")
  }
}
