package graft

import org.apache.spark.sql.functions._
import graft.queries.SimQueries

class SimSpec extends SparkSpec {

  private def neighborSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }

  test("knn_brute: k results per query, ranks contiguous, cos descending") {
    val out = SimQueries.knnBrute(spark, sf).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size === 10)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to 10))
      val cs = rows.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      assert(cs === cs.sorted.reverse, "cos must not increase with rank")
    }
  }

  test("knn_lsh recall vs brute is usable") {
    val brute = neighborSets(SimQueries.knnBrute(spark, sf))
    val lsh = neighborSets(SimQueries.knnLsh(spark, sf))
    val recalls = brute.map { case (q, truth) =>
      lsh.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean LSH recall@10 $mean")
  }

  test("knn_ivf recall vs brute is usable") {
    val brute = neighborSets(SimQueries.knnBrute(spark, sf))
    val ivf = neighborSets(SimQueries.knnIvf(spark, sf))
    val recalls = brute.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean IVF recall@10 $mean")
  }

  test("knn_recall query agrees with the driver-side recall computation") {
    val rows = SimQueries.knnRecall(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.keySet === Set("ivf", "ivfpq", "lsh", "pq"))
    rows.foreach { case (m, (nq, rec)) =>
      assert(nq === 10L, s"$m covered $nq queries")
      assert(rec >= 0.7, s"$m recall@10 $rec below floor")
      assert(rec <= 1.0)
    }
    // every method is deterministic (seeded planes, rounded centroid
    // fits, integer tie-breaks), so the recalls are EXACT values, not
    // just floor-bounded — pinning them turns a silent quality drift
    // (e.g. a centroid-fit change that still clears 0.7) into a
    // visible regression. Re-derive by running knnRecall at sf0.001
    // if an INTENTIONAL algorithm change moves them.
    assert(rows("lsh")._2 === 0.83, s"lsh ${rows("lsh")._2}")
    assert(rows("ivf")._2 === 0.87, s"ivf ${rows("ivf")._2}")
    assert(rows("pq")._2 === 1.0, s"pq ${rows("pq")._2}")
    assert(rows("ivfpq")._2 === 0.95, s"ivfpq ${rows("ivfpq")._2}")
    // cross-check one method against the independent driver-side compute
    val brute = neighborSets(SimQueries.knnBrute(spark, sf))
    val lsh = neighborSets(SimQueries.knnLsh(spark, sf))
    val mean = brute.map { case (q, truth) =>
      lsh.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }.sum / brute.size
    assert(math.abs(rows("lsh")._2 - mean) < 1e-3)
  }

  test("IvfIndex: fit-once search-many equals one-shot ivf; disk round-trip prunes") {
    import org.apache.spark.sql.functions._
    val e = graft.util.Tables(spark, sf).embeddings
    val (q, c) = (e.filter(col("vec_id") < 10), e)
    val oneShot = SimQueries.knnIvf(spark, sf).collect().map(_.toSeq).toSeq
    val index = graft.sim.IvfIndex.fit(c, "vec_id", "embedding")
    val viaIndex = index.search(q, "vec_id", "embedding", k = 10)
      .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
    assert(viaIndex === oneShot, "fit/search split must not change results")
    // disk round-trip: same results, and probing the cell-partitioned
    // table plans a dynamic partition-pruning subquery on cell
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    index.save(dir)
    val loaded = graft.sim.IvfIndex.load(spark, dir)
    assert(loaded.centroids.map(_._1).toSeq === index.centroids.map(_._1).toSeq)
    val fromDisk = loaded.search(q, "vec_id", "embedding", k = 10)
    assert(fromDisk.orderBy(col("query_id"), col("rank"))
      .collect().map(_.toSeq).toSeq === oneShot)
    val plan = planOf(fromDisk)
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
      plan.take(600))
  }

  test("IvfIndex.search and graphCells at nProbe 1: every neighbor " +
      "shares the query's nearest cell") {
    val e = graft.util.Tables(spark, sf).embeddings
    val cents = graft.sim.Knn.fitCentroids(e, "vec_id", "embedding", 8, 2)
    val cellOf = graft.sim.Knn.assignCells(e, "vec_id", "embedding", cents, 1)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaSearch = graft.sim.IvfIndex.fitWith(e, "vec_id", "embedding", cents)
      .search(e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 3,
        nProbe = 1).collect()
    val viaGraph = graft.sim.Knn.graphCells(e, "vec_id", "embedding", 3,
      cents, nProbe = 1).collect()
    Seq("search" -> viaSearch, "graphCells" -> viaGraph).foreach {
      case (name, rows) =>
        assert(rows.nonEmpty, name)
        assert(rows.groupBy(_.getLong(0)).values.forall(_.length <= 3), name)
        rows.foreach(r => assert(cellOf(r.getLong(0)) === cellOf(r.getLong(2)),
          s"$name: ${r.getLong(0)} -> ${r.getLong(2)}"))
    }
  }

  test("LshBuckets matches the literal hyperplane formulation bit for bit") {
    // the native expression replaced a tree of 16×8 when(dot≥0) chains
    // against 64-element array literals; recall floors only stay
    // meaningful if bucket values are IDENTICAL, so re-derive the
    // literal twin here (same PRNG consumption order, same double
    // accumulation via graft_dot) and compare on real vectors
    graft.functions.GraftFunctions.register(spark)
    val e = graft.util.Tables(spark, sf).embeddings.limit(64)
    val native = e.select(col("vec_id"),
        call_function("graft_lsh_buckets", col("embedding"),
          lit(16), lit(8), lit(42L), lit(64)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val rng = new scala.util.Random(42L)
    val planes = Array.fill(16, 8, 64)(if (rng.nextBoolean()) 1.0f else -1.0f)
    val literal = e.select(col("vec_id"),
        array(planes.toIndexedSeq.map { tbl =>
          tbl.zipWithIndex.map { case (plane, i) =>
            when(call_function("graft_dot", col("embedding"),
              typedlit(plane.toSeq)) >= 0, 1 << i).otherwise(0)
          }.reduce(_ + _)
        }: _*).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(native.size === 64)
    assert(native === literal, "native LSH buckets diverge from literal planes")
  }

  test("NearestCells matches the literal struct-sort formulation") {
    // the native expression replaced array_sort over C struct literals;
    // IVF probe sets only stay meaningful if the selected cells are
    // IDENTICAL, so re-derive the literal twin here (same cosine
    // arithmetic, same (negcos, cell) ordering) on real centroids
    import org.apache.spark.sql.graft.ColumnBridge
    val e = graft.util.Tables(spark, sf).embeddings
    val centroids = graft.sim.Knn.fitCentroids(e, "vec_id", "embedding",
      c = 16, iters = 1)
    val nProbe = 4
    val native = e.select(col("vec_id"), ColumnBridge.column(
        graft.functions.NearestCells(
          ColumnBridge.expression(col("embedding")),
          centroids.map(_._1), centroids.map(_._2), nProbe)).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    graft.functions.GraftFunctions.register(spark)
    val scored = array(centroids.toIndexedSeq.map { case (cid, cv) =>
      struct(
        (-(call_function("graft_dot", col("embedding"), typedlit(cv.toSeq)) /
          (call_function("graft_l2norm", col("embedding")) *
            call_function("graft_l2norm", typedlit(cv.toSeq))))).as("negcos"),
        lit(cid).as("cell"))
    }: _*)
    val literal = e.select(col("vec_id"),
        transform(slice(array_sort(scored), 1, nProbe),
          s => s.getField("cell")).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(native.nonEmpty)
    assert(native === literal, "native cell probes diverge from literal sort")
  }

  test("LshIndex: build-once search-many equals one-shot lsh; disk round-trip prunes") {
    import org.apache.spark.sql.functions._
    val e = graft.util.Tables(spark, sf).embeddings
    val (q, c) = (e.filter(col("vec_id") < 10), e)
    val oneShot = SimQueries.knnLsh(spark, sf).collect().map(_.toSeq).toSeq
    val index = graft.sim.LshIndex.build(c, "vec_id", "embedding", dim = 64)
    val viaIndex = index.search(q, "vec_id", "embedding", k = 10)
      .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
    assert(viaIndex === oneShot, "build/search split must not change results")
    // disk round-trip: same results, and probing the bucket-partitioned
    // table plans a dynamic partition-pruning subquery on the buckets
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
    index.save(dir)
    val loaded = graft.sim.LshIndex.load(spark, dir)
    assert((loaded.tables, loaded.bits, loaded.seed, loaded.dim) ===
      ((index.tables, index.bits, index.seed, index.dim)))
    val fromDisk = loaded.search(q, "vec_id", "embedding", k = 10)
    assert(fromDisk.orderBy(col("query_id"), col("rank"))
      .collect().map(_.toSeq).toSeq === oneShot)
    val plan = planOf(fromDisk)
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
      plan.take(600))
  }

  test("knn_pq recall vs brute is usable; returned cos is exact") {
    val brute = neighborSets(SimQueries.knnBrute(spark, sf))
    val pqOut = SimQueries.knnPq(spark, sf).collect()
    val pq = pqOut.groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val recalls = brute.map { case (q, truth) =>
      pq.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean PQ recall@10 $mean")
    // contract: k ranked rows per query, and every returned cos agrees
    // with brute-force exact scoring when the pair is in the exact
    // top-k — the re-rank must score real vectors, never the ADC
    // estimate
    val byQ = pqOut.groupBy(_.getLong(0))
    assert(byQ.size === 10)
    byQ.values.foreach(rows => assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to 10)))
    val exactCos = SimQueries.knnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    pqOut.foreach { r =>
      exactCos.get((r.getLong(0), r.getLong(2))).foreach { c =>
        assert(math.abs(c - r.getDouble(3)) < 1e-9, "PQ cos must be exact")
      }
    }
  }

  test("knn_ivfpq recall vs brute is usable; returned cos is exact") {
    val brute = neighborSets(SimQueries.knnBrute(spark, sf))
    val out = SimQueries.knnIvfPq(spark, sf).collect()
    val got = out.groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val recalls = brute.map { case (q, truth) =>
      got.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    // coarse pruning on top of ADC: floor matches the other pruned
    // paths (lsh/ivf), below flat PQ's 0.8 — the recall given up for
    // scanning nProbe/C of the codes is the IVFADC trade by design
    assert(mean >= 0.7, s"mean IVFADC recall@10 $mean")
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size === 10)
    byQ.values.foreach(rows =>
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to rows.length)))
    val exactCos = SimQueries.knnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    out.foreach { r =>
      exactCos.get((r.getLong(0), r.getLong(2))).foreach { c =>
        assert(math.abs(c - r.getDouble(3)) < 1e-9, "IVFADC cos must be exact")
      }
    }
  }

  test("IvfPqIndex: fit-once search-many equals one-shot; disk round-trip prunes") {
    val e = graft.util.Tables(spark, sf).embeddings
    val (q, c) = (e.filter(col("vec_id") < 10), e)
    val oneShot = SimQueries.knnIvfPq(spark, sf).collect().map(_.toSeq).toSeq
    val model = graft.sim.Pq.fit(c, "vec_id", "embedding",
      m = 16, ks = 64, iters = 2)
    val centroids = graft.sim.Knn.fitCentroids(c, "vec_id", "embedding", 16, 3)
    val index = graft.sim.IvfPqIndex.fitWith(c, "vec_id", "embedding",
      centroids, model)
    val viaIndex = index.search(q, c, "vec_id", "embedding", 10,
        nProbe = 8, rerankFactor = 10)
      .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
    assert(viaIndex === oneShot, "fit/search split must not change results")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    index.save(dir)
    val loaded = graft.sim.IvfPqIndex.load(spark, dir)
    assert(loaded.model.m === model.m && loaded.model.subDim === model.subDim)
    assert(loaded.centroids.length === centroids.length)
    val fromDisk = loaded.search(q, c, "vec_id", "embedding", 10,
      nProbe = 8, rerankFactor = 10)
    assert(fromDisk.orderBy(col("query_id"), col("rank"))
      .collect().map(_.toSeq).toSeq === oneShot)
    // probing the cell-partitioned codes table must plan a dynamic
    // partition-pruning subquery — the scan reads ONLY probed cells
    val plan = planOf(fromDisk)
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
      plan.take(600))
    // nProbe=1 (the guard admits nProbe >= 1) must run
    val single = index.search(q, c, "vec_id", "embedding", 3,
      nProbe = 1, rerankFactor = 2).collect()
    assert(single.nonEmpty)
    assert(single.groupBy(_.getLong(0)).values.forall(_.length <= 3))
  }

  test("IvfPqIndex.append: append-then-search equals encode-all; compact invariant") {
    val e = graft.util.Tables(spark, sf).embeddings
    val q = e.filter(col("vec_id") < 5)
    // "day 1" = even ids, "day 2" = odd ids; same frozen models
    val day1 = e.filter(pmod(col("vec_id"), lit(2)) === 0)
    val day2 = e.filter(pmod(col("vec_id"), lit(2)) === 1)
    val index = graft.sim.IvfPqIndex.fit(day1, "vec_id", "embedding",
      c = 8, m = 8, ks = 16, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_app").toString
    graft.sim.IvfPqSnapshot.init(index, spark, dir)
    graft.sim.IvfPqSnapshot.append(spark, dir, day2, "vec_id", "embedding")
    val appended = graft.sim.IvfPqSnapshot.load(spark, dir).index
    val viaAppend = appended.search(q, e, "vec_id", "embedding", 5,
        nProbe = 4, rerankFactor = 5)
      .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
    // reference: the SAME frozen models encoding the full corpus at once
    val allAtOnce = graft.sim.IvfPqIndex.fitWith(e, "vec_id", "embedding",
        index.centroids, index.model)
      .search(q, e, "vec_id", "embedding", 5, nProbe = 4, rerankFactor = 5)
      .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
    assert(viaAppend === allAtOnce,
      "appending a batch must equal encoding the union with the same models")
    // compaction changes file layout only — results byte-identical,
    // and each cell directory collapses to one data file
    assert(graft.sim.IvfPqSnapshot.compact(spark, dir) === 1L)
    val compacted = graft.sim.IvfPqSnapshot.load(spark, dir).index
      .search(q, e, "vec_id", "embedding", 5, nProbe = 4, rerankFactor = 5)
      .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
    assert(compacted === viaAppend)
    val cellDirs = new java.io.File(s"$dir/epoch=1/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"${d.getName}: expected 1 compacted file, got ${files.length}")
    }
  }

  test("IvfPqSnapshot: searches pinned to an epoch survive compaction " +
      "and takedown swaps; appends land in the current epoch; " +
      "retention retires old epochs") {
    import graft.sim.{IvfPqIndex, IvfPqSnapshot}
    val e = graft.util.Tables(spark, sf).embeddings
    val q = e.filter(col("vec_id") < 5)
    val day1 = e.filter(pmod(col("vec_id"), lit(2)) === 0)
    val day2 = e.filter(pmod(col("vec_id"), lit(2)) === 1)
    val index = graft.sim.IvfPqIndex.fit(day1, "vec_id", "embedding",
      c = 8, m = 8, ks = 16, iters = 2)
    def searchSeq(idx: IvfPqIndex): Seq[Seq[Any]] =
      idx.search(q, e, "vec_id", "embedding", 5, nProbe = 4,
          rerankFactor = 5)
        .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_snap").toString
    IvfPqSnapshot.init(index, spark, dir)
    assert(IvfPqSnapshot.currentEpoch(spark, dir) === 0L)

    // day-2 ingestion lands in the current epoch; search must equal
    // the SAME frozen models encoding the whole corpus at once
    IvfPqSnapshot.append(spark, dir, day2, "vec_id", "embedding")
    val withDay2 = searchSeq(IvfPqSnapshot.load(spark, dir).index)
    val allAtOnce = searchSeq(IvfPqIndex.fitWith(e, "vec_id", "embedding",
      index.centroids, index.model))
    assert(withDay2 === allAtOnce,
      "epoch append must equal encoding the union with the same models")

    // compact publishes epoch 1: the search handle pinned to epoch 0
    // keeps its files; a fresh load sees epoch 1, results identical,
    // and the new epoch's cell dirs are one file each
    val pinned = IvfPqSnapshot.load(spark, dir)
    assert(pinned.epoch === 0L)
    assert(IvfPqSnapshot.compact(spark, dir) === 1L)
    assert(searchSeq(pinned.index) === withDay2,
      "search pinned to epoch 0 must survive the compaction swap")
    val snap1 = IvfPqSnapshot.load(spark, dir)
    assert(snap1.epoch === 1L)
    assert(searchSeq(snap1.index) === withDay2)
    val cellDirs1 = new java.io.File(s"$dir/epoch=1/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs1.nonEmpty)
    cellDirs1.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1,
        s"${d.getName}: expected 1 compacted file, got ${files.length}")
    }

    // takedown publishes epoch 2: the removed id can never be returned
    // under the new epoch; the epoch-1 search still sees it
    val removedId = withDay2.head(2).asInstanceOf[Long]
    assert(IvfPqSnapshot.remove(spark, dir, Seq(removedId)) === 2L)
    val snap2 = IvfPqSnapshot.load(spark, dir)
    val afterRm = searchSeq(snap2.index)
    assert(!afterRm.exists(r => r(2) == removedId),
      "a taken-down id must never appear under the new epoch")
    assert(searchSeq(snap1.index) === withDay2,
      "epoch-1 search must still see the pre-takedown corpus")
    // retention: publish(2) retires epochs < 1
    assert(graft.util.Epochs.published(spark, dir) === Seq(1L, 2L))
    assert(searchSeq(IvfPqSnapshot.loadEpoch(spark, dir, 1L).index)
      === withDay2)
    intercept[IllegalArgumentException] {
      IvfPqSnapshot.loadEpoch(spark, dir, 0L)
    }
    // crash-window fallback: losing _CURRENT resolves to max published
    new java.io.File(s"$dir/_CURRENT").delete()
    assert(IvfPqSnapshot.currentEpoch(spark, dir) === 2L)
    assert(searchSeq(IvfPqSnapshot.load(spark, dir).index) === afterRm)
  }

  test("PqCodes native encoder matches the distributed encode argmin") {
    // the map-only native encoder is the scale path; the
    // explode/join/groupBy formulation stays the oracle — codes must
    // agree code-for-code (same distance arithmetic, same tie-break)
    import org.apache.spark.sql.graft.ColumnBridge
    val emb = graft.util.Tables(spark, sf).embeddings
    val model = graft.sim.Pq.fit(emb, "vec_id", "embedding",
      m = 8, ks = 16, iters = 1)
    val native = graft.sim.Pq.codes(emb, "vec_id", "embedding", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val oracle = graft.sim.Pq.encode(emb, "vec_id", "embedding", model)
      .groupBy(col("pq_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
      .select(col("pq_id"), transform(col("sc"), s => s.getField("code")).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(native.size === oracle.size)
    assert(native === oracle, "native PQ codes diverge from distributed encode")
  }

  test("PqIndex: encode-once search-many equals one-shot; disk round-trip") {
    import org.apache.spark.sql.functions._
    val e = graft.util.Tables(spark, sf).embeddings
    val (q, c) = (e.filter(col("vec_id") < 10), e)
    val model = graft.sim.Pq.fit(e, "vec_id", "embedding",
      m = 16, ks = 64, iters = 2)
    val oneShot = SimQueries.knnPq(spark, sf).collect().map(_.toSeq).toSeq
    val index = graft.sim.PqIndex(model,
      graft.sim.Pq.codes(c, "vec_id", "embedding", model))
    val viaIndex = index.search(q, c, "vec_id", "embedding", 10,
        rerankFactor = 10)
      .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
    assert(viaIndex === oneShot, "encode/search split must not change results")
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    index.save(dir)
    val loaded = graft.sim.PqIndex.load(spark, dir)
    assert(loaded.model.m === model.m && loaded.model.subDim === model.subDim)
    val fromDisk = loaded.search(q, c, "vec_id", "embedding", 10,
        rerankFactor = 10)
      .orderBy(col("query_id"), col("rank")).collect().map(_.toSeq).toSeq
    assert(fromDisk === oneShot)
  }

  test("Lloyd fit refuses a C×dim geometry the driver collect can't hold") {
    val e = graft.util.Tables(spark, sf).embeddings
    val err = intercept[IllegalArgumentException] {
      // dim is 64 here, so C must push C×dim past the 16M ceiling
      graft.sim.Knn.fitCentroids(e, "vec_id", "embedding",
        c = (graft.sim.Knn.MaxDriverFitCells / 64 + 1).toInt, iters = 1)
    }
    assert(err.getMessage.contains("ceiling"),
      s"guard must name the ceiling: ${err.getMessage}")
  }

  test("a codes/model geometry mismatch fails loudly, not as an index error") {
    // encode-once/search-many hazard: a saved codes table meeting a
    // refit model must name the problem, not AIOOBE inside codegen
    val emb = graft.util.Tables(spark, sf).embeddings
    val fitted = graft.sim.Pq.fit(emb, "vec_id", "embedding",
      m = 4, ks = 4, iters = 1)
    val codes = graft.sim.Pq.codes(emb, "vec_id", "embedding", fitted)
    val refit = graft.sim.Pq.fit(emb, "vec_id", "embedding",
      m = 2, ks = 2, iters = 1)
    val ex = intercept[Throwable] {
      graft.sim.PqIndex(refit, codes).search(emb.limit(2), emb,
        "vec_id", "embedding", k = 3).collect()
    }
    val messages = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("PQ geometry mismatch"), messages.take(500))
  }

  test("zero-norm embeddings never throw and never outrank real neighbors") {
    import spark.implicits._
    // a dead/failed embedding is routine in a 100 TB corpus; a raw ANSI
    // division would kill the whole job with DIVIDE_BY_ZERO, and a NaN
    // score would sort FIRST under cos.desc — the contract is NULL cos,
    // ranked last, never >= τ (Vectors.cosineWithNorms)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 0.0f)), // dead embedding
      (3L, Array(-1.0f, 0.2f)))
      .toDF("vec_id", "embedding")
    val out = graft.sim.Knn.brute(vecs, vecs, "vec_id", "embedding", k = 3)
      .filter(col("query_id") === 0L).orderBy("rank").collect()
    assert(out.length === 3)
    assert(out.last.getLong(2) === 2L && out.last.isNullAt(3),
      "the zero vector must rank last with NULL cos")
    assert(out.take(2).forall(!_.isNullAt(3)))
    // PQ: a zero-norm corpus row in the ADC pass and re-rank
    val model = graft.sim.Pq.fit(vecs, "vec_id", "embedding",
      m = 2, ks = 2, iters = 1)
    val pq = graft.sim.PqIndex(model,
        graft.sim.Pq.codes(vecs, "vec_id", "embedding", model))
      .search(vecs, vecs, "vec_id", "embedding", k = 3).collect()
    assert(pq.nonEmpty)
    // dedup: a zero vector is a near-dup of NOTHING (NULL fails >= τ)
    val dd = graft.dedup.EmbeddingDedup.pairs(vecs, "vec_id", "embedding", 0.5)
      .collect()
    assert(dd.nonEmpty)
    assert(dd.forall(r => r.getLong(0) != 2L && r.getLong(1) != 2L))
  }

  test("SignPack/HammingDist: packed xor+popcount equals the per-dim sign count") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // 70 dims forces a 2-word code (bit 63→word 0, bit 64→word 1);
    // exact zeros and NaN must contribute a 0 bit (`> 0f` both sides)
    def vec(seed: Int): Array[Float] = Array.tabulate(70) { i =>
      if (i == 5) 0.0f
      else if (i == 6 && seed == 1) Float.NaN
      else ((i * 2654435761L + seed * 40503L) % 17 - 8).toFloat
    }
    val df = Seq((0L, vec(0)), (1L, vec(1)), (2L, vec(2)))
      .toDF("vec_id", "embedding")
    val packed = df.select(col("vec_id"),
      graft.sim.Vectors.signPack(col("embedding")).as("code"),
      col("embedding"))
    packed.collect().foreach { r =>
      assert(r.getSeq[Long](1).length === 2, "70 dims must pack to 2 words")
    }
    val pairs = packed.as("a").crossJoin(packed.as("b"))
      .select(col("a.vec_id"), col("b.vec_id"),
        graft.sim.Vectors.hamming(col("a.code"), col("b.code")).as("h"),
        col("a.embedding").as("ea"), col("b.embedding").as("eb"))
      .collect()
    pairs.foreach { r =>
      val ea = r.getSeq[Float](3); val eb = r.getSeq[Float](4)
      val naive = ea.zip(eb).count { case (x, y) => (x > 0f) != (y > 0f) }
      assert(r.getLong(2) === naive.toLong,
        s"packed hamming ${r.getLong(2)} != naive $naive")
    }
    assert(pairs.filter(r => r.getLong(0) == r.getLong(1))
      .forall(_.getLong(2) == 0L), "self-distance must be 0")
  }

  test("knn_hamming: full rank structure, distances ascending, bit-exact") {
    val out = SimQueries.knnHamming(spark, sf).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size === 10)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to 10))
      val hs = rows.sortBy(_.getInt(1)).map(_.getLong(3)).toSeq
      assert(hs === hs.sorted, "hamming must not decrease with rank")
      assert(hs.forall(h => h >= 0 && h <= 64), "64-dim codes bound hamming")
    }
  }

  test("PHash: invariant to brightness, far apart for different textures") {
    import graft.multimodal.{PHash, PngCodec}
    def ph(id: Long, bright: Int, w: Int = 32, h: Int = 40): Long =
      PHash.ofBytes(PngCodec.synthesizeTextured(id, w, h, bright)).get
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // identical image → identical hash (via two independent round-trips)
    assert(ph(7L, 0) === ph(7L, 0))
    // uniform brightness shift → at most the DC/median boundary moves
    (1L to 20L).foreach { id =>
      assert(ham(ph(id, 0), ph(id, 30)) <= 3,
        s"brightness shift moved pHash of texture $id too far")
    }
    // different textures must sit strictly OUTSIDE the dedup radius (3).
    // These are same-family periodic patterns, not natural photos — the
    // worst pair measures 4, far from the ~32 a random pair gives but
    // cleanly separated; the zero-false-positive guarantee over all 64
    // planted groups is the mm_phash completeness test's job
    val others = for (a <- 1L to 12L; b <- (a + 1) to 12L)
      yield ham(ph(a, 0), ph(b, 0))
    assert(others.min > 3, s"distinct textures inside dedup radius: ${others.min}")
  }

  test("mm_phash: all planted within-group pairs, zero cross-group") {
    val pairs = SimQueries.mmPhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
    val expected = (for {
      g <- 0L until 64L
      a <- 0 until 4; b <- (a + 1) until 4
    } yield (g * 4 + a, g * 4 + b)).toSet
    val got = pairs.map(p => (p._1, p._2)).toSet
    assert(got === expected,
      s"missing ${(expected -- got).take(5)}, spurious ${(got -- expected).take(5)}")
    assert(pairs.forall(_._3 <= 3))
  }

  test("knn_hamming_rerank: high recall vs brute, cos exact where shared") {
    val brute = SimQueries.knnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val rr = SimQueries.knnHammingRerank(spark, sf).collect()
    val bruteSets = brute.keys.groupBy(_._1)
      .map { case (q, ks) => q -> ks.map(_._2).toSet }
    val rrSets = rr.groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(2)).toSet }
    val recalls = bruteSets.map { case (q, truth) =>
      rrSets.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"binary shortlist recall@10 $mean below floor")
    // wherever rerank and brute agree on a pair, the cos is identical
    rr.foreach { r =>
      brute.get((r.getLong(0), r.getLong(2))).foreach { c =>
        assert(math.abs(c - r.getDouble(3)) < 1e-9) }
    }
  }

  test("approximate results are subsets of exact scoring (no fabricated cos)") {
    // every (q, n, cos) from LSH must agree with brute-force cos when present
    val brute = SimQueries.knnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = SimQueries.knnLsh(spark, sf).collect()
    lsh.foreach { r =>
      brute.get((r.getLong(0), r.getLong(2))).foreach { c =>
        assert(math.abs(c - r.getDouble(3)) < 1e-9)
      }
    }
  }

  test("PNG round-trip: decoded pixels match codec-independent arithmetic") {
    // the property that proves a REAL codec ran: synthesize → ImageIO
    // decode must recover width/height and the exact pixel sum that
    // pure pattern arithmetic predicts (patternSum never touches the
    // codec), and the payload must carry the PNG signature
    import graft.multimodal.PngCodec
    Seq((7L, 16, 47), (123L, 33, 16), (0L, 20, 20)).foreach { case (id, w, h) =>
      val bytes = PngCodec.synthesize(id, w, h)
      assert((bytes(0) & 0xff) === 0x89 &&
        new String(bytes.slice(1, 4), "US-ASCII") === "PNG",
        "payload must be a real PNG stream")
      val Some((dw, dh, sum)) = PngCodec.decode(bytes)
      assert((dw, dh) === ((w, h)))
      assert(sum === PngCodec.patternSum(id, w, h),
        s"decoded pixel sum diverges for id=$id")
    }
    // undecodable bytes take the fallback branch, not an exception
    assert(PngCodec.decode("not an image".getBytes("UTF-8")).isEmpty)
  }

  test("mm_meta: png group is fully decoded and matches the pattern oracle") {
    val out = SimQueries.mmMeta(spark, sf).collect()
    assert(out.map(_.getLong(1)).sum === 500L)
    assert(out.forall(_.getLong(3) > 0), "total_bytes must be positive")
    assert(out.map(_.getString(0)).toSet
      .subsetOf(Set("png", "jpeg", "wav", "gif", "avi")))
    val byFormat = out.map(r => r.getString(0) -> r).toMap
    // every fixture format decodes for real since r12 (avi closed the
    // last byte fallback; the fallback branch itself is pinned by the
    // corrupt-blob test below)
    Seq("png", "jpeg", "wav", "gif", "avi").foreach { f =>
      assert(byFormat(f).getLong(2) === byFormat(f).getLong(1),
        s"every $f row must take the real-decode branch")
    }
    // INDEPENDENT oracles for the decoded checksums: pattern arithmetic
    // over (doc_id, n_chars), no codec involved
    val docs = graft.util.Tables(spark, sf).documents
      .select("doc_id", "n_chars").collect()
    val expectedPng = docs.filter(_.getLong(1) % 5 === 0L)
      .map { r =>
        val (id, nc) = (r.getLong(0), r.getLong(1))
        graft.multimodal.PngCodec.patternSum(id,
          (16 + nc % 32).toInt, (16 + (nc * 7) % 32).toInt)
      }.sum
    assert(byFormat("png").getLong(4) === expectedPng,
      "png checksum sum must equal the codec-independent pattern sum")
    val expectedWav = docs.filter(_.getLong(1) % 5 === 2L)
      .map { r =>
        val (id, nc) = (r.getLong(0), r.getLong(1))
        graft.multimodal.WavCodec.amplitudeSum(id, (256 + (nc * 3) % 512).toInt)
      }.sum
    assert(byFormat("wav").getLong(4) === expectedWav,
      "wav checksum sum must equal the codec-independent amplitude sum")
    val expectedGif = docs.filter(_.getLong(1) % 5 === 3L)
      .map { r =>
        val (id, nc) = (r.getLong(0), r.getLong(1))
        val (w, h) = ((16 + nc % 24).toInt, (12 + (nc * 7) % 24).toInt)
        (0 until graft.multimodal.GifCodec.frameCount(id))
          .map(f => graft.multimodal.GifCodec.framePatternSum(id, f, w, h))
          .sum
      }.sum
    assert(byFormat("gif").getLong(4) === expectedGif,
      "gif checksum sum must equal the codec-independent frame pattern sums")
    // jpeg is LOSSY (quality 1.0): the independent oracle is the
    // pattern sum within JpegCodec's measured per-pixel error band —
    // |Σ decoded − Σ pattern| ≤ Σ|err| ≤ meanTol · total pixels
    val jpegDims = docs.filter(_.getLong(1) % 5 === 1L)
      .map { r =>
        val nc = r.getLong(1)
        (r.getLong(0), (32 + nc % 96).toInt, (32 + (nc * 7) % 96).toInt)
      }
    val expectedJpeg = jpegDims.map { case (id, w, h) =>
      graft.multimodal.PngCodec.patternSum(id, w, h) }.sum
    val jpegPixels = jpegDims.map { case (_, w, h) => w.toLong * h }.sum
    val jpegDelta = math.abs(byFormat("jpeg").getLong(4) - expectedJpeg)
    assert(jpegDelta <=
        (graft.multimodal.JpegCodec.MeanAbsPixelTolerance * jpegPixels).toLong,
      s"jpeg checksum sum off the pattern oracle by $jpegDelta " +
        s"over $jpegPixels pixels")
    // avi checksums: Σ per-frame GifCodec pattern sums within the JPEG
    // band (MJPEG frames are quality-1.0 JPEGs of the gif pattern)
    val aviDims = docs.filter(_.getLong(1) % 5 === 4L)
      .map { r =>
        val nc = r.getLong(1)
        (r.getLong(0), (24 + nc % 40).toInt, (24 + (nc * 7) % 40).toInt)
      }
    val expectedAvi = aviDims.map { case (id, w, h) =>
      (0 until graft.multimodal.AviCodec.frameCount(id))
        .map(f => graft.multimodal.GifCodec.framePatternSum(id, f, w, h))
        .sum
    }.sum
    val aviPixels = aviDims.map { case (id, w, h) =>
      graft.multimodal.AviCodec.frameCount(id).toLong * w * h }.sum
    val aviDelta = math.abs(byFormat("avi").getLong(4) - expectedAvi)
    assert(aviDelta <=
        (graft.multimodal.JpegCodec.MeanAbsPixelTolerance * aviPixels).toLong,
      s"avi checksum sum off the pattern oracle by $aviDelta " +
        s"over $aviPixels pixels")
  }

  test("JpegCodec: quality-1.0 round-trip recovers dims exactly and " +
      "every pixel within the measured error band") {
    import graft.multimodal.{JpegCodec, PngCodec}
    Seq((3L, 64, 71), (42L, 129, 90), (487L, 320, 200)).foreach {
      case (id, w, h) =>
        val bytes = JpegCodec.synthesize(id, w, h)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        assert((img.getWidth, img.getHeight) === ((w, h)))
        var absSum = 0L
        var maxErr = 0
        for (y <- 0 until h; x <- 0 until w) {
          val e = math.abs((img.getRGB(x, y) & 0xff) - PngCodec.pixel(id, x, y))
          absSum += e
          maxErr = math.max(maxErr, e)
        }
        assert(maxErr <= JpegCodec.MaxAbsPixelTolerance,
          s"id=$id worst pixel error $maxErr")
        assert(absSum.toDouble / (w * h) <= JpegCodec.MeanAbsPixelTolerance,
          s"id=$id mean error ${absSum.toDouble / (w * h)}")
        // and the shared decode path agrees with a direct ImageIO read
        val (dw, dh, sum) = PngCodec.decode(bytes).get
        assert((dw, dh) === ((w, h)))
        assert(sum ===
          (for (y <- 0 until h; x <- 0 until w)
            yield (img.getRGB(x, y) & 0xff).toLong).sum)
    }
  }

  test("mm_audio: every clip's frame features equal the pattern replay") {
    import graft.multimodal.{Multimodal, WavCodec}
    val out = SimQueries.mmAudio(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    val wavDocs = graft.util.Tables(spark, sf).documents
      .select("doc_id", "n_chars").collect()
      .filter(_.getLong(1) % 5 === 2L)
    assert(wavDocs.nonEmpty && out.size === wavDocs.length,
      "every wav row decodes into exactly one feature row")
    val hop = Multimodal.AudioFrameSamples
    wavDocs.foreach { r =>
      val (id, nc) = (r.getLong(0), r.getLong(1))
      val n = (256 + (nc * 3) % 512).toInt
      val s = Array.tabulate(n)(i => WavCodec.sample(id, i))
      var zc = 0L; var sumSq = 0L
      for (i <- s.indices) {
        if (i > 0 && (s(i) < 0) != (s(i - 1) < 0)) zc += 1
        sumSq += s(i).toLong * s(i)
      }
      val nf = n / hop
      val energies = (0 until nf).map { f =>
        (f * hop until (f + 1) * hop).map(i => s(i).toLong * s(i)).sum
      }
      val expect = (Multimodal.WavRate, n, nf, zc,
        if (nf == 0) 0L else energies.max,
        if (nf == 0) 0L else energies.min,
        math.sqrt((sumSq / n).toDouble).toLong)
      assert(out(id) === expect, s"clip $id features diverge from arithmetic")
    }
  }

  test("mm_vad: every clip's segment walk equals an independent replay " +
    "of the sample arithmetic") {
    import graft.multimodal.{Multimodal, WavCodec}
    val out = SimQueries.mmVad(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5)))).toMap
    val wavDocs = graft.util.Tables(spark, sf).documents
      .select("doc_id", "n_chars").collect()
      .filter(_.getLong(1) % 5 === 2L)
    assert(out.size === wavDocs.length)
    val hop = Multimodal.AudioFrameSamples
    wavDocs.foreach { r =>
      val (id, nc) = (r.getLong(0), r.getLong(1))
      val n = (256 + (nc * 3) % 512).toInt
      val s = Array.tabulate(n)(i => WavCodec.sample(id, i))
      val nf = n / hop
      val energies = (0 until nf).map { f =>
        (f * hop until (f + 1) * hop).map(i => s(i).toLong * s(i)).sum }
      val total = energies.sum
      val active = energies.map(_ * nf > total)
      // functional run-walk, independent of the imperative query code
      val runs = active.foldLeft(List.empty[Int]) {
        case (acc, true) if acc.nonEmpty && acc.head > 0 => (acc.head + 1) :: acc.tail
        case (acc, true) => 1 :: acc
        case (acc, false) => 0 :: acc
      }.filter(_ > 0)
      val expect = (nf, active.count(identity), runs.length,
        if (runs.isEmpty) 0 else runs.max,
        active.indexOf(true))
      assert(out(id) === expect, s"clip $id segmentation diverges")
    }
    // non-degenerate: activity detected somewhere, and the threshold
    // actually splits frames (sf0.001 clips are 1-4 frames, so multi-
    // segment clips only appear at larger SFs)
    assert(out.values.exists(_._3 >= 1), "expected an active segment")
    assert(out.values.exists(s => s._2 < s._1),
      "expected some inactive frames")
  }

  test("WavCodec round-trip: real javax.sound decode recovers every sample") {
    val bytes = graft.multimodal.WavCodec.synthesize(7L, 300, 8000)
    assert(bytes.length === 44 + 600, "canonical PCM16 header + data")
    val Some((n, rate, amp)) = graft.multimodal.WavCodec.decode(bytes)
    assert(n === 300 && rate === 8000)
    assert(amp === graft.multimodal.WavCodec.amplitudeSum(7L, 300),
      "decoded amplitude sum must equal the codec-independent arithmetic")
    // non-audio bytes take None (→ the byte-path fallback upstream)
    assert(graft.multimodal.WavCodec.decode("not audio".getBytes("UTF-8")).isEmpty)
  }

  test("GifCodec round-trip: every frame of a real animated GIF decodes exactly") {
    import graft.multimodal.GifCodec
    val bytes = GifCodec.synthesize(id = 5L, w = 20, h = 15, frames = 3)
    // a genuine GIF container
    assert(bytes.take(3).map(_.toChar).mkString === "GIF")
    val frames = GifCodec.decodeFrames(bytes).get
    assert(frames.length === 3)
    frames.zipWithIndex.foreach { case ((w, h, sum), f) =>
      assert((w, h) === (20, 15))
      assert(sum === GifCodec.framePatternSum(5L, f, 20, 15),
        s"frame $f pixel sum must survive the encode/decode round-trip")
    }
    // undecodable bytes take the fallback branch, not an exception
    assert(GifCodec.decodeFrames("not a gif".getBytes("UTF-8")).isEmpty)
  }

  test("frame sampling: real gif and avi frames, byte-window tiling " +
      "elsewhere") {
    import graft.multimodal.{AviCodec, GifCodec, JpegCodec}
    val frames = SimQueries.mmFrames(spark, sf).collect()
    val media = graft.multimodal.Multimodal.mediaTable(
        graft.util.Tables(spark, sf).documents.filter(col("doc_id") < 20))
      .collect().map(m => m.media_id -> m).toMap
    val byDoc = frames.groupBy(_.getLong(0))
    assert(byDoc.keySet === media.keySet)
    byDoc.foreach { case (id, fs) =>
      val m = media(id)
      if (m.format == "gif") {
        // REAL temporal decode: container frame count, per-frame pixel
        // sums equal the codec-independent pattern oracle
        assert(fs.forall(_.getBoolean(4)), "gif frames must be decoded")
        assert(fs.length === GifCodec.frameCount(id))
        fs.sortBy(_.getInt(1)).zipWithIndex.foreach { case (r, f) =>
          assert(r.getLong(2) === m.width.toLong * m.height)
          assert(r.getLong(3) ===
            GifCodec.framePatternSum(id, f, m.width, m.height),
            s"gif $id frame $f pixel sum")
        }
      } else if (m.format == "avi") {
        // REAL temporal decode through the RIFF walk; JPEG frames are
        // lossy, so sums pin within the measured quality-1.0 band
        assert(fs.forall(_.getBoolean(4)), "avi frames must be decoded")
        assert(fs.length === AviCodec.frameCount(id))
        val px = m.width.toLong * m.height
        fs.sortBy(_.getInt(1)).zipWithIndex.foreach { case (r, f) =>
          assert(r.getLong(2) === px)
          val want = GifCodec.framePatternSum(id, f, m.width, m.height)
          assert(math.abs(r.getLong(3) - want) <=
            JpegCodec.MeanAbsPixelTolerance * px,
            s"avi $id frame $f pixel sum outside the JPEG band")
        }
      } else {
        assert(fs.length === 4)
        assert(fs.forall(!_.getBoolean(4)))
        assert(fs.map(_.getLong(2)).sum === m.bytes.length.toLong,
          "fallback frame bytes must sum to payload")
      }
    }
  }

  test("media batch decode preserves ids and byte counts") {
    val media = graft.multimodal.Multimodal.mediaTable(
      graft.util.Tables(spark, sf).documents)
    val feats = graft.multimodal.Multimodal.decodeFeatures(media)
    val n = graft.util.Tables(spark, sf).documents.count()
    assert(feats.count() === n)
    // every format carries an encoder-sized payload (non-empty, real
    // codecs since r12); wav rows exactly the canonical 44-byte header
    // + 2 bytes per sample; avi rows at least the RIFF + hdrl overhead
    val joined = feats.toDF().join(
      graft.util.Tables(spark, sf).documents,
      col("media_id") === col("doc_id"))
    assert(joined.filter(col("format") === "wav")
      .filter(col("n_bytes") =!=
        lit(44) + (lit(256) + pmod(col("n_chars") * 3, lit(512))) * 2)
      .count() === 0)
    assert(joined.filter(col("format") === "avi")
      .filter(col("n_bytes") <= 200 || !col("decoded")).count() === 0,
      "avi rows must carry a real decoded RIFF container")
    assert(joined.filter(col("n_bytes") <= 0).count() === 0)
  }

  test("AviCodec round-trip: every MJPEG frame of a real AVI decodes " +
      "within the JPEG band; corrupt media takes the fallback branch") {
    import graft.multimodal.{AviCodec, GifCodec, JpegCodec}
    val bytes = AviCodec.synthesize(id = 5L, w = 28, h = 33, frames = 3)
    // a genuine RIFF AVI container
    assert(bytes.take(4).map(_.toChar).mkString === "RIFF")
    assert(bytes.slice(8, 12).map(_.toChar).mkString === "AVI ")
    val frames = AviCodec.decodeFrames(bytes).get
    assert(frames.length === 3)
    frames.zipWithIndex.foreach { case ((w, h, sum), f) =>
      assert((w, h) === ((28, 33)))
      val want = GifCodec.framePatternSum(5L, f, 28, 33)
      assert(math.abs(sum - want) <=
        JpegCodec.MeanAbsPixelTolerance * 28 * 33,
        s"frame $f pixel sum outside the quality-1.0 band")
    }
    // undecodable bytes take None (→ the byte-path fallback upstream),
    // including truncation INSIDE a declared chunk and a non-AVI RIFF
    assert(AviCodec.decodeFrames("not an avi".getBytes("UTF-8")).isEmpty)
    assert(AviCodec.decodeFrames(bytes.take(bytes.length / 2)).isEmpty)
    assert(AviCodec.decodeFrames(
      "RIFF   WAVE".getBytes("ISO-8859-1")).isEmpty)
    // the decodeBatch degrade-gracefully branch survives avi going
    // real: a corrupt blob yields the byte-path features, never a crash
    import spark.implicits._
    val corrupt = Seq(graft.multimodal.Multimodal.MediaRecord(
      99L, "garbage payload bytes".getBytes("UTF-8"), "avi", 24, 24)).toDS()
    val feat = graft.multimodal.Multimodal.decodeFeatures(corrupt).collect()
    assert(feat.length === 1 && !feat(0).decoded)
    assert(feat(0).checksum ===
      "garbage payload bytes".getBytes("UTF-8").iterator.take(16)
        .map(b => (b & 0xff).toLong).sum)
    assert((feat(0).thumb_w, feat(0).thumb_h) === ((3, 3)),
      "fallback thumbs derive from metadata dims / 8")
  }

  test("Pq: Lloyd rounds improve on the init codebook; codes stay bounded") {
    val emb = graft.util.Tables(spark, sf).embeddings
    def mse(iters: Int): Double = {
      val model = graft.sim.Pq.fit(emb, "vec_id", "embedding",
        m = 8, ks = 16, iters = iters)
      graft.sim.Pq.encode(emb, "vec_id", "embedding", model)
        .agg(avg(col("dist"))).head().getDouble(0)
    }
    val init = mse(0)
    val trained = mse(2)
    assert(trained <= init,
      s"training must not worsen reconstruction: $trained > $init")
    assert(trained > 0.0, "nonzero corpus can't quantize losslessly to 16 codes")
    val codes = graft.queries.SimQueries.embPq(spark, sf).collect()
    assert(codes.length === 8)
    codes.foreach { r =>
      assert(r.getLong(2) >= 1L && r.getLong(2) <= 16L,
        s"n_codes out of range: $r")
    }
  }

  test("Pq save/load round-trip: loaded model encodes identically") {
    val emb = graft.util.Tables(spark, sf).embeddings
    val model = graft.sim.Pq.fit(emb, "vec_id", "embedding",
      m = 8, ks = 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    graft.sim.Pq.save(spark, model, dir)
    val loaded = graft.sim.Pq.load(spark, dir)
    assert(loaded.m === model.m && loaded.subDim === model.subDim)
    val a = graft.sim.Pq.encode(emb, "vec_id", "embedding", model)
      .orderBy("pq_id", "sub").collect().map(_.toSeq)
    val b = graft.sim.Pq.encode(emb, "vec_id", "embedding", loaded)
      .orderBy("pq_id", "sub").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq, "loaded codebooks must encode identically")
  }

  test("knn_graph: exact all-pairs graph — 5 ranked rows per vector, agrees with brute") {
    val g = SimQueries.knnGraph(spark, sf).collect()
    val byQ = g.groupBy(_.getLong(0))
    assert(byQ.size === 500, "one query group per corpus vector")
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to 5))
      val cs = rows.sortBy(_.getInt(1)).map(_.getDouble(3)).toSeq
      assert(cs === cs.sorted.reverse, "cos must not increase with rank")
    }
    // on the 10 shared queries, the graph's top-5 IS brute's top-5
    val bruteTop5 = SimQueries.knnBrute(spark, sf).collect()
      .filter(_.getInt(1) <= 5)
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val graphQ = g.filter(_.getLong(0) < 10)
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(graphQ === bruteTop5)
  }

  test("knn_graph_cell recall vs the exact graph is usable") {
    def sets(rows: Array[org.apache.spark.sql.Row]) = rows.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    // ONE collect of the quadratic exact graph serves both the recall
    // truth sets and the exact-cos lookup below
    val exactRows = SimQueries.knnGraph(spark, sf).collect()
    val celledRows = SimQueries.knnGraphCell(spark, sf).collect()
    val exact = sets(exactRows)
    val celled = sets(celledRows)
    val recalls = exact.map { case (q, truth) =>
      celled.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    // the registered query probes 8 of C = 16 cells (nProbe = 4
    // measured 0.59 on this corpus — below the floor; see the
    // SimQueries.knnGraphCell scaladoc for the regime discussion)
    assert(mean >= 0.7, s"mean graph recall@5 $mean")
    // every returned cos is exact (candidates are scored on real
    // vectors — never an estimate), so a reported edge can't disagree
    // with the exact graph, only be missing
    val exactCos = exactRows
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    celledRows.foreach { r =>
      exactCos.get((r.getLong(0), r.getLong(2))).foreach { c =>
        assert(math.abs(c - r.getDouble(3)) < 1e-9, "graph cos must be exact")
      }
    }
  }

  test("knn_classify_cell tracks the exact confusion matrix (accuracy delta)") {
    def acc(rows: Array[org.apache.spark.sql.Row]) = {
      val byTrue = rows.groupBy(_.get(0))
      byTrue.map { case (t, rs) =>
        val total = rs.map(_.getLong(2)).sum.toDouble
        val right = rs.filter(r => r.get(1) == t).map(_.getLong(2)).sum
        t -> (right / total, total)
      }
    }
    val exactRows = SimQueries.knnClassify(spark, sf).collect()
    val celledRows = SimQueries.knnClassifyCell(spark, sf).collect()
    // row conservation: every corpus vector gets exactly one prediction
    // in BOTH matrices (the approximate graph may miss edges, never
    // whole queries — graphCells always returns >=1 candidate cell)
    assert(exactRows.map(_.getLong(2)).sum === celledRows.map(_.getLong(2)).sum)
    val exact = acc(exactRows)
    val celled = acc(celledRows)
    assert(exact.keySet === celled.keySet, "same label universe")
    // per-class accuracy within 0.10 of the exact matrix, overall
    // within 0.05 — the approximate graph (recall >= 0.7 spec above)
    // votes with mostly-the-same neighbors, so the verdict barely moves
    exact.foreach { case (t, (a, _)) =>
      val (ac, _) = celled(t)
      assert(math.abs(a - ac) <= 0.10, s"class $t accuracy $a vs celled $ac")
    }
    def overall(m: Map[Any, (Double, Double)]) = {
      val tot = m.values.map(_._2).sum
      m.values.map { case (a, n) => a * n }.sum / tot
    }
    val (oe, oc) = (overall(exact), overall(celled))
    assert(math.abs(oe - oc) <= 0.05, s"overall accuracy $oe vs celled $oc")
  }

  test("Pca.jacobiEigen: hand-computable 2x2 and exact diagonal") {
    import graft.sim.Pca
    val (vals, vecs) = Pca.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val sorted = vals.sorted
    assert(math.abs(sorted(0) - 1.0) < 1e-12)
    assert(math.abs(sorted(1) - 3.0) < 1e-12)
    // eigenvector of lambda=3 is (1,1)/sqrt(2) up to sign
    val i3 = vals.indexWhere(v => math.abs(v - 3.0) < 1e-12)
    val v3 = Array(vecs(0)(i3), vecs(1)(i3))
    assert(math.abs(math.abs(v3(0)) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(v3(0) - v3(1)) < 1e-12)
    // already-diagonal input: eigenvalues are the diagonal, basis identity
    val (dv, dvec) = Pca.jacobiEigen(
      Array(Array(5.0, 0.0), Array(0.0, 7.0)))
    assert(dv.toSeq === Seq(5.0, 7.0))
    assert(dvec(0)(0) === 1.0 && dvec(1)(1) === 1.0)
  }

  test("Pca.fit on corpus: orthonormal basis, descending PSD spectrum") {
    import graft.sim.Pca
    val corpus = graft.util.Tables(spark, sf).embeddings
    val m = Pca.fit(corpus, "embedding", dim = 64, k = 4)
    // orthonormal
    for (i <- 0 until 4; j <- i until 4) {
      val dot = (0 until 64).map(t => m.basis(i)(t) * m.basis(j)(t)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"basis($i)-basis($j) dot $dot")
    }
    // spectrum descending, PSD up to rounding
    m.eigenvalues.sliding(2).foreach { case Array(a, b) =>
      assert(a >= b - 1e-12) }
    assert(m.eigenvalues.last > -1e-6, "covariance must be PSD")
    // top-k must capture a non-trivial share of total variance
    val total = m.eigenvalues.sum
    val topk = m.eigenvalues.take(4).sum
    assert(topk > total * 4.0 / 64.0,
      "top-4 components must beat the uniform-variance share")
  }

  test("Pca.fit spectrum VALUE-PINNED at sf0.001 (emb_pca/emb_whiten's " +
    "rows-only value gate)") {
    // the covariance is integer-rounded before the eigensolve and
    // Jacobi sweeps are deterministic, so the spectrum at the test SF
    // is a constant — pinning the top-4 eigenvalues (the ones emb_pca/
    // emb_whiten project onto) and the full trace means a silent
    // regression in moments → covariance → Jacobi cannot hide behind
    // the rows-only driver status
    import graft.sim.Pca
    val corpus = graft.util.Tables(spark, sf).embeddings
    val m = Pca.fit(corpus, "embedding", dim = 64, k = 4)
    val expectedTop4 = Seq(0.028886203374, 0.026926549805,
      0.025828362549, 0.025264695636)
    m.eigenvalues.take(4).zip(expectedTop4).zipWithIndex.foreach {
      case ((got, want), i) =>
        assert(math.abs(got - want) < 1e-11, s"eigenvalue $i: $got != $want")
    }
    assert(math.abs(m.eigenvalues.sum - 0.998312864001) < 1e-10,
      s"trace drifted: ${m.eigenvalues.sum}")
  }

  test("sample_diverse: output VALUE-PINNED at sf0.001 (size, id-sum " +
    "digest, and the exact farthest-first head of cell 0)") {
    // the centroid fit and the farthest-first cut are deterministic,
    // so the kept set at the test SF is a constant; the digest + exact
    // head pin means a silent drift in the fit, the cosine, or the
    // quota rank cannot hide behind the rows-only driver status
    val kept = SimQueries.sampleDiverse(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(kept.length === 256, s"kept ${kept.length}")
    assert(kept.map(_._1).sum === 65495L, "kept-id digest drifted")
    val cell0 = kept.filter(_._2 == 0).sortBy(_._3).take(3)
      .map(t => (t._1, t._3, t._4)).toSeq
    assert(cell0 === Seq(
      (367L, 1L, 0.179216), (214L, 2L, 0.251948), (93L, 3L, 0.281643)),
      s"cell-0 farthest-first head drifted: $cell0")
  }

  test("DiverseSample: per-cell quota honored, farthest-first rule " +
      "matches the full assignment, rerun-deterministic") {
    import graft.sim.{DiverseSample, Knn}
    val e = graft.util.Tables(spark, sf).embeddings
    val cents = Knn.fitCentroids(e, "vec_id", "embedding", 16, 3)
    val perCell = 8
    val kept = DiverseSample
      .farthestPerCell(e, "vec_id", "embedding", cents, perCell)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(kept.nonEmpty && kept.length <= 16 * perCell)
    // quota + dense ranks per cell
    kept.groupBy(_._2).foreach { case (cell, rows) =>
      assert(rows.length <= perCell, s"cell $cell over quota")
      assert(rows.map(_._3).sorted.toSeq ===
        (1L to rows.length.toLong), s"cell $cell ranks")
    }
    // differential oracle: re-derive every vector's cos to its own
    // centroid through an INDEPENDENT formulation (HOF zip_with +
    // sequential aggregate fold instead of the native graft_dot /
    // graft_l2norm), then the expected kept set per cell is the
    // (cos, id)-ordered prefix of the full assignment
    import spark.implicits._
    val cents2 = cents.map { case (cid, v) => (cid, v.toSeq) }.toSeq
      .toDF("cell", "cv")
    def hofNorm(c: org.apache.spark.sql.Column) =
      sqrt(aggregate(c, lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
    val scoredAll = Knn.assignCells(
        e.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", cents, 1)
      .join(cents2, "cell")
      .withColumn("cos2", round(
        aggregate(zip_with(col("embedding"), col("cv"),
          (a, b) => a.cast("double") * b.cast("double")), lit(0.0),
          (acc, x) => acc + x) /
          (hofNorm(col("embedding")) * hofNorm(col("cv"))), 6))
      .select(col("vec_id"), col("cell"), col("cos2")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val expected = scoredAll.groupBy(_._2).toSeq.flatMap { case (cell, rows) =>
      rows.sortBy(r => (r._3, r._1)).take(perCell).zipWithIndex
        .map { case ((id, _, cos), i) => (id, cell, i + 1L, cos) }
    }.toSet
    assert(kept.toSet === expected,
      s"kept diverges from the independent (cos, id) prefix: " +
        s"${kept.toSet diff expected} | ${expected diff kept.toSet}")
    // rerun-identical
    val again = DiverseSample
      .farthestPerCell(e, "vec_id", "embedding", cents, perCell)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(again.sortBy(r => (r._2, r._3)).toSeq ===
      kept.sortBy(r => (r._2, r._3)).toSeq)
  }

  test("Pca.whiten: unit variance, zero cross-covariance, " +
      "per-row 1/sqrt(lambda) parity with project") {
    import graft.sim.Pca
    val corpus = graft.util.Tables(spark, sf).embeddings
    val m = Pca.fit(corpus, "embedding", dim = 64, k = 4)
    val rows = corpus
      .select(Pca.whiten(col("embedding"), m).as("y"),
        Pca.project(col("embedding"), m).as("p"))
      .collect()
      .map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
    val n = rows.length
    assert(n > 100)
    // whiten is exactly project with the component scale folded in
    rows.take(20).foreach { case (y, p) =>
      (0 until 4).foreach { j =>
        val want = p(j) / math.sqrt(m.eigenvalues(j) + 1e-9)
        assert(math.abs(y(j) - want) < 1e-9, s"component $j: $y vs $want")
      }
    }
    // whitened corpus has identity covariance: unit variance per
    // component (lambda/(lambda+eps) in-sample), ~0 means and cross-covs
    val means = (0 until 4).map(j => rows.map(_._1(j)).sum / n)
    means.foreach(mu => assert(math.abs(mu) < 1e-6, s"means $means"))
    for (j <- 0 until 4) {
      val v = rows.map(r => (r._1(j) - means(j)) * (r._1(j) - means(j)))
        .sum / n
      assert(math.abs(v - 1.0) < 0.01, s"component $j variance $v")
      for (k2 <- j + 1 until 4) {
        val c = rows.map(r =>
          (r._1(j) - means(j)) * (r._1(k2) - means(k2))).sum / n
        assert(math.abs(c) < 0.01, s"cross-cov($j,$k2) $c")
      }
    }
  }

  test("Pca: projection variance equals the eigenvalue, planted direction found") {
    import spark.implicits._
    import graft.sim.Pca
    val corpus = graft.util.Tables(spark, sf).embeddings
    val m = Pca.fit(corpus, "embedding", dim = 64, k = 2)
    val proj = corpus.select(Pca.project(col("embedding"), m).as("y"))
      .select(element_at(col("y"), 1).as("p1")).collect().map(_.getDouble(0))
    val mu = proj.sum / proj.length
    val varP = proj.map(p => (p - mu) * (p - mu)).sum / proj.length
    assert(math.abs(varP - m.eigenvalues(0)) < 1e-4 * math.max(1.0, m.eigenvalues(0)),
      s"pc1 variance $varP vs eigenvalue ${m.eigenvalues(0)}")
    // planted direction: x = t*u + eps, u = (1,1,...,1)/8
    val rnd = new scala.util.Random(7)
    val u = Array.fill(64)(1.0 / 8.0)
    val planted = (0 until 200).map { _ =>
      val t = rnd.nextGaussian() * 5.0
      Array.tabulate(64)(i => (t * u(i) + rnd.nextGaussian() * 0.01).toFloat)
    }.toDF("v")
    val pm = Pca.fit(planted, "v", dim = 64, k = 1)
    val cosU = (0 until 64).map(i => pm.basis(0)(i) * u(i)).sum
    assert(math.abs(cosU) > 0.999,
      s"PC1 must align with the planted direction, |cos|=${math.abs(cosU)}")
  }

  test("Pca: corpus/model dimension mismatch fails loudly, never silently") {
    import spark.implicits._
    import graft.sim.Pca
    // fit sees a 3-element vector while dim=4: the Gramian must throw,
    // not fit a basis on the rows that happened to match
    val mixed = Seq(
      Array(1f, 2f, 3f, 4f), Array(2f, 1f, 0f, 1f), Array(1f, 1f, 1f))
      .toDF("v")
    val eFit = intercept[Exception] {
      Pca.fit(mixed, "v", dim = 4, k = 1)
    }
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(messages(eFit).contains("graft_gramian"), messages(eFit))
    // projection of a wrong-dimension vector through a fitted model
    // must throw, not truncate or zero-pad
    val ok = Seq(Array(1f, 2f, 3f, 4f), Array(2f, 1f, 0f, 1f),
      Array(0f, 3f, 1f, 2f)).toDF("v")
    val m = Pca.fit(ok, "v", dim = 4, k = 1)
    val eProj = intercept[Exception] {
      Seq(Array(1f, 2f, 3f)).toDF("v")
        .select(Pca.project(col("v"), m).as("y")).collect()
    }
    assert(messages(eProj).contains("graft_pca_project"), messages(eProj))
  }

  test("mm_thumb: box-average resize replayed exactly from the synthesis " +
      "pattern; gif rows thumbnail the poster frame") {
    val rows = SimQueries.mmThumb(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.nonEmpty)
    val metas = graft.util.Tables(spark, sf).documents
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    var replayed = 0
    metas.toSeq.sortBy(_._1).foreach { case (id, nc) =>
      if (nc % 5 == 0 && replayed < 20 && rows.contains(id)) {
        val w = (16 + nc % 32).toInt
        val h = (16 + (nc * 7) % 32).toInt
        val tw = math.min(8, w); val th = math.min(8, h)
        var luma = 0L
        for (ty <- 0 until th; tx <- 0 until tw) {
          val x0 = tx * w / tw; val x1 = (tx + 1) * w / tw
          val y0 = ty * h / th; val y1 = (ty + 1) * h / th
          var acc = 0L; var cnt = 0L
          for (y <- y0 until math.max(y1, y0 + 1);
               x <- x0 until math.max(x1, x0 + 1)) {
            acc += graft.multimodal.PngCodec.pixel(id, x, y); cnt += 1
          }
          luma += acc / cnt
        }
        val r = rows(id)
        assert((r.getInt(1), r.getInt(2)) === ((w, h)), s"dims of $id")
        assert((r.getInt(3), r.getInt(4)) === ((tw, th)))
        assert(r.getLong(5) === luma, s"luma of $id")
        assert(r.getLong(6) > 0, "re-encoded PNG must be non-empty")
        replayed += 1
      }
    }
    assert(replayed === 20, "expected 20 png rows replayed")
    // gif rows (n_chars % 5 == 3) decode their poster frame
    val gifIds = metas.filter(_._2 % 5 == 3).keySet
    assert(gifIds.exists(rows.contains), "gif rows must thumbnail")
    gifIds.filter(rows.contains).take(5).foreach { id =>
      val r = rows(id)
      assert(r.getBoolean(7) && r.getLong(6) > 0)
    }
    // jpeg rows (n_chars % 5 == 1) now REALLY decode: dims exact, luma
    // within the lossy band (≤ 1 pixel error feeding each box average,
    // ±1 more from the integer division — ≤ 2 per thumb cell)
    val jpegChecked = metas.toSeq.filter(_._2 % 5 == 1).sortBy(_._1)
      .take(5).map { case (id, nc) =>
        val w = (32 + nc % 96).toInt
        val h = (32 + (nc * 7) % 96).toInt
        val tw = math.min(8, w); val th = math.min(8, h)
        var luma = 0L
        for (ty <- 0 until th; tx <- 0 until tw) {
          val x0 = tx * w / tw; val x1 = (tx + 1) * w / tw
          val y0 = ty * h / th; val y1 = (ty + 1) * h / th
          var acc = 0L; var cnt = 0L
          for (y <- y0 until math.max(y1, y0 + 1);
               x <- x0 until math.max(x1, x0 + 1)) {
            acc += graft.multimodal.PngCodec.pixel(id, x, y); cnt += 1
          }
          luma += acc / cnt
        }
        val r = rows(id)
        assert(r.getBoolean(7), s"jpeg row $id must decode")
        assert((r.getInt(1), r.getInt(2)) === ((w, h)), s"jpeg dims of $id")
        assert(math.abs(r.getLong(5) - luma) <= 2L * tw * th,
          s"jpeg luma of $id off by ${math.abs(r.getLong(5) - luma)}")
        id
      }
    assert(jpegChecked.size === 5, "expected 5 jpeg rows replayed")
  }

  test("emb_dim_stats: dead dim and constant dim report exactly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dimstats").toString
    // dim 0 varies, dim 1 dead (all zero), dim 2 constant 0.5
    Seq((1L, "a", Seq(1f, 0f, 0.5f)), (2L, "a", Seq(2f, 0f, 0.5f)),
        (3L, "b", Seq(3f, 0f, 0.5f)), (4L, "b", Seq(6f, 0f, 0.5f)))
      .toDF("vec_id", "label", "embedding")
      .write.parquet(s"$tmp/embeddings.parquet")
    val rows = SimQueries.embDimStats(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(rows(0L) === ((4L, 3.0, 3.5, 0.0)))   // mean 3, var 3.5
    assert(rows(1L) === ((4L, 0.0, 0.0, 1.0)))   // dead dim
    assert(rows(2L) === ((4L, 0.5, 0.0, 0.0)))   // constant dim
  }

  test("emb_outliers: planted anti-class vector flagged, clean vectors aren't; " +
      "real corpus scores are finite") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_emb_out").toString
    // two tight 4-dim clusters; vec 99 carries label "a" but points
    // OPPOSITE the a-mean — the classic mislabeled-embedding shape
    val a = (0 until 20).map(i =>
      (i.toLong, "a", Seq(1f, 0.1f * (i % 3), 0f, 0f)))
    val b = (20 until 40).map(i =>
      (i.toLong, "b", Seq(0f, 0f, 1f, 0.1f * (i % 3))))
    val bad = Seq((99L, "a", Seq(-1f, 0f, 0f, 0f)))
    (a ++ b ++ bad).toDF("vec_id", "label", "embedding")
      .write.parquet(s"$tmp/embeddings.parquet")
    val out = SimQueries.embOutliers(spark, tmp).collect()
    assert(out.length === 41)
    val flagged = out.filter(r => !r.isNullAt(4) && r.getBoolean(4))
      .map(_.getLong(0)).toSet
    assert(flagged === Set(99L))
    // the real corpus: every z defined, outliers a small minority
    val real = SimQueries.embOutliers(spark, sf).collect()
    assert(real.length === 500)
    assert(real.forall(r => !r.isNullAt(3)))
    val frac = real.count(_.getBoolean(4)).toDouble / real.length
    assert(frac < 0.1, s"outlier fraction $frac")
  }

  test("emb_matryoshka: full-dim overlap is exactly 10; mean overlap grows " +
    "with budget; d=8 top-10 matches a driver-side replay") {
    import org.apache.spark.sql.functions._
    val rows = SimQueries.embMatryoshka(spark, sf).collect()
    assert(rows.filter(_.getInt(1) == 64).forall(_.getLong(2) === 10L),
      "the full budget must trivially agree with itself")
    val byD = rows.groupBy(_.getInt(1))
      .map { case (d, rs) => d -> rs.map(_.getLong(2)).sum.toDouble / rs.length }
    assert(byD(8) <= byD(16) + 0.5 && byD(16) <= byD(32) + 0.5 &&
      byD(32) <= byD(64), s"overlap should grow with budget: $byD")
    // independent replay: collect vectors, rank prefix-8 cosine driver-side
    val vecs = graft.util.Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // Spark's round(x, 6) = BigDecimal.valueOf(x).setScale(6, HALF_UP);
    // replaying with anything else (e.g. rint's half-even) would make
    // the spec flaky on an exact 7th-decimal tie
    def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def cos8(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      (0 until 8).foreach { i =>
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble }
      round6(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
    val qIds = vecs.keys.filter(_ % 50 == 0)
    qIds.foreach { q =>
      val want = vecs.keys.filter(_ != q).toSeq
        .map(c => (c, cos8(vecs(q), vecs(c))))
        .sortBy { case (c, s) => (-s, c) }.take(10)
        .map { case (_, s) => math.floor(s * 1e6 + 0.5).toLong }.sum
      val got = rows.find(r => r.getLong(0) == q && r.getInt(1) == 8).get.getLong(3)
      assert(got === want, s"query $q d=8 top-10 cosine mass")
    }
  }

  test("emb_drift: identical halves give cos 1, orthogonal halves cos 0; " +
    "real corpus all defined") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_drift").toString
    Seq(
      // label 0: even and odd halves identical → drift cos 1.0
      (0L, Seq(1f, 0f, 2f), 0), (1L, Seq(1f, 0f, 2f), 0),
      (2L, Seq(3f, 0f, 6f), 0), (3L, Seq(3f, 0f, 6f), 0),
      // label 1: halves orthogonal → drift cos 0.0
      (10L, Seq(1f, 0f, 0f), 1), (11L, Seq(0f, 1f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = SimQueries.embDrift(spark, tmp).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(0) === ((2L, 2L, 1.0)))
    assert(got(1) === ((1L, 1L, 0.0)))
    // real corpus: every label has both halves and a defined cosine ≤ 1
    val real = SimQueries.embDrift(spark, sf).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
      assert(!r.isNullAt(3) && r.getDouble(3) <= 1.0)
    }
  }

  test("emb_cos_hist: exact driver-side replay of the sampled pair " +
      "histogram; the in-plan modulus caps pairs at the budget") {
    import org.apache.spark.sql.functions._
    val all = graft.util.Tables(spark, sf).embeddings
    val n = all.count()
    // the in-plan arithmetic, replayed: sampleMod = max(1, ceil(n/1000))
    // (sqrt(2 * 5e5) = 1000 exactly — the budget was chosen for that)
    val budget = SimQueries.embCosHistPairBudget
    assert(math.sqrt(2.0 * budget) === 1000.0)
    val smod = math.max(1L, math.ceil(n / 1000.0).toLong)
    val vecs = all
      .filter(col("vec_id") % smod === 0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    assert(vecs.length.toLong * (vecs.length - 1) / 2 <= budget,
      s"sampled self-join must respect the $budget-pair budget")
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble }
      java.math.BigDecimal.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val want = (for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
    } yield math.floor(cosD(vecs(i)._2, vecs(j)._2) * 20).toLong)
      .groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    val got = SimQueries.embCosHist(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    assert(got.values.sum === vecs.length.toLong * (vecs.length - 1) / 2,
      "every sampled pair lands in exactly one bucket")
  }

  test("emb_ncm_share: argmin replays from the oracled centroids; counts conserve") {
    // centroids come from emb_centroids' own (hash-oracled) output, so
    // this replay tests ONLY the broadcast argmin + count stage
    val cents = SimQueries.embCentroids(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val labels = cents.keys.map(_._1).toSeq.distinct.sorted
    val vecs = graft.util.Tables(spark, sf).embeddings
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    def distQ(v: Array[Float], lab: Int): Long =
      v.indices.map { d =>
        val diff = v(d).toDouble - cents((lab, d))
        math.floor(diff * diff * 1e9 + 0.5).toLong
      }.sum
    val want = vecs
      .map { case (lab, v) =>
        val best = labels.map(l => distQ(v, l) * 1024 + l).min
        (lab, best % 1024)
      }
      .groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val got = SimQueries.embNcmShare(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.map { case ((l, a), n) => (l, a) -> n } ===
      want.map { case ((l, a), n) => (l, a.toLong) -> n })
    assert(got.values.sum === vecs.length.toLong,
      "every vector assigned exactly once")
    assert(got.keys.forall { case (_, a) => labels.contains(a.toInt) },
      "assignments stay inside the label set")
  }

  test("Epochs fence: an append landing mid-rewrite survives into the " +
      "published epoch exactly once; a persistent append storm fails " +
      "loudly; a second concurrent maintainer errors on the lease") {
    import graft.sim.{IvfPqIndex, IvfPqSnapshot}
    import graft.util.Epochs
    val e = graft.util.Tables(spark, sf).embeddings
    val day1 = e.filter(pmod(col("vec_id"), lit(2)) === 0)
    val late = e.filter(pmod(col("vec_id"), lit(2)) === 1)
    val lateIds = late.select("vec_id").collect().map(_.getLong(0)).toSet
    val index = IvfPqIndex.fit(day1, "vec_id", "embedding",
      c = 8, m = 8, ks = 16, iters = 2)
    // the saved cells table carries the search-contract id column
    // (neighbor_id — Pq.cellCodes' output), whatever idCol fed it
    def distinctIds(dir: String, epoch: Long): Set[Long] =
      spark.read.parquet(s"$dir/epoch=$epoch/cells")
        .select("neighbor_id").distinct().collect().map(_.getLong(0)).toSet
    def dupIds(dir: String, epoch: Long): Long =
      spark.read.parquet(s"$dir/epoch=$epoch/cells")
        .groupBy("neighbor_id").count().filter(col("count") > 1).count()

    val dir = java.nio.file.Files
      .createTempDirectory("graft_epoch_fence").toString
    IvfPqSnapshot.init(index, spark, dir)

    // (1) an append injected into the FIRST rewrite attempt changes the
    // source epoch's content signature — the checked rewrite discards
    // the half-built next epoch and re-runs over the appended files,
    // so the admission survives, exactly once
    var attempts = 0
    val published = Epochs.rewriteToNextChecked(spark, dir) { (cur, next) =>
      attempts += 1
      if (attempts == 1)
        IvfPqIndex.append(spark, cur, late, "vec_id", "embedding")
      IvfPqSnapshot.compactRewrite(spark)(cur, next)
    }
    assert(published === 1L)
    assert(attempts === 2, "the signature re-check must re-run the rewrite")
    assert(lateIds.subsetOf(distinctIds(dir, 1L)),
      "a mid-rewrite admission must survive into the published epoch")
    assert(dupIds(dir, 1L) === 0L, "never a duplicate code row")

    // (2) an append storm that outpaces every attempt fails LOUDLY
    // instead of publishing an epoch that silently drops the last one
    val storm = intercept[IllegalStateException] {
      Epochs.rewriteToNextChecked(spark, dir, maxAttempts = 2) {
        (cur, next) =>
          IvfPqIndex.append(spark, cur, late.limit(3),
            "vec_id", "embedding")
          IvfPqSnapshot.compactRewrite(spark)(cur, next)
      }
    }
    assert(storm.getMessage.contains("rewrite attempts"))
    assert(Epochs.current(spark, dir) === 1L,
      "a failed checked rewrite must not publish")
    assert(!new java.io.File(s"$dir/epoch=2").exists(),
      "a failed checked rewrite must discard its half-built epoch dir, " +
        "not leave an unpublished partial tree on disk")

    // (3) the maintenance lease: a second maintainer fails loudly
    Epochs.withMaintenanceLease(spark, dir) {
      val second = intercept[IllegalStateException] {
        IvfPqSnapshot.compact(spark, dir)
      }
      assert(second.getMessage.contains("single-maintainer"))
    }
    // released on exit: maintenance proceeds normally afterwards
    assert(IvfPqSnapshot.compact(spark, dir) === 2L)

    // (4) the append side of the fence, both race outcomes, fresh dir:
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_epoch_fence2").toString
    IvfPqSnapshot.init(index, spark, dir2)
    // maintenance publishes epoch 1 between the append's pointer
    // resolution (0) and its files landing — the rewrite did NOT
    // capture the batch, so the post-write epoch re-check re-appends
    // it into the new epoch
    assert(IvfPqSnapshot.compact(spark, dir2) === 1L)
    IvfPqSnapshot.appendFrom(spark, dir2, 0L, late, "vec_id", "embedding")
    assert(lateIds.subsetOf(distinctIds(dir2, 1L)),
      "an admission raced by maintenance must be re-appended")
    assert(dupIds(dir2, 1L) === 0L)
    // and when the rewrite DID capture the batch (epoch 2 compacts the
    // late rows in), the id verification finds nothing missing — no
    // duplicate re-append
    assert(IvfPqSnapshot.compact(spark, dir2) === 2L)
    IvfPqSnapshot.appendFrom(spark, dir2, 1L, late, "vec_id", "embedding")
    assert(lateIds.subsetOf(distinctIds(dir2, 2L)))
    assert(dupIds(dir2, 2L) === 0L,
      "a captured admission must not be re-appended")

    // (5) the appenders' half of the fence: the post-write epoch
    // re-read only counts once NO maintenance lease is in flight — a
    // held lease blocks the append's stability check until released,
    // and a stale crashed-maintainer lock surfaces as a LOUD timeout,
    // never as a silently-missed publish
    val lease = new java.io.File(s"$dir2/_MAINTENANCE.lock")
    assert(lease.createNewFile())
    val stale = intercept[IllegalStateException] {
      Epochs.awaitNoMaintenance(spark, dir2, timeoutMs = 300L)
    }
    assert(stale.getMessage.contains("still held"))
    val releaser = new Thread(() => { Thread.sleep(400L); lease.delete(); () })
    val t0 = System.nanoTime()
    releaser.start()
    IvfPqSnapshot.appendFrom(spark, dir2, 2L,
      late.filter(col("vec_id") < 0), "vec_id", "embedding")
    releaser.join()
    assert((System.nanoTime() - t0) / 1e6 >= 350.0,
      "the append's stability check must wait out the in-flight lease")
  }

  test("emb_pca refits after embeddings.parquet is regenerated in place: " +
      "equals the same face over a dir that only held the new rows") {
    val e = graft.util.Tables(spark, sf).embeddings
    val dir = graft.util.Staging.dir(spark, "pca_regen")
    val fresh = graft.util.Staging.dir(spark, "pca_fresh")
    e.filter(col("vec_id") % 2 === 0).write.parquet(s"$dir/embeddings.parquet")
    SimQueries.embPca(spark, dir).collect()
    val regen = e.filter(col("vec_id") % 2 === 1)
    regen.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    regen.write.parquet(s"$fresh/embeddings.parquet")
    assert(SimQueries.embPca(spark, dir).collect().toSeq ===
      SimQueries.embPca(spark, fresh).collect().toSeq)
  }
}
