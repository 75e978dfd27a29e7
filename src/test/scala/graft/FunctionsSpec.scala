package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

class FunctionsSpec extends SparkSpec {

  test("native functions are SQL-callable after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS dot,
        |  graft_l2norm(array(3.0F, 4.0F)) AS nrm,
        |  graft_simhash64(array('a', 'b')) AS sh,
        |  graft_minhash_lanes(array('a', 'b')) AS mh
      """.stripMargin).head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 5.0)
    assert(r.getSeq[Long](3).length === 64)
  }

  test("register is idempotent: a second call leaves every builder and " +
      "its registry entry reference-identical") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val s = spark.newSession()
    val registry = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    def entries = GraftFunctions.names.toSeq.sorted.map { n =>
      val id = FunctionIdentifier(n)
      (n, registry.lookupFunctionBuilder(id).get, registry.lookupFunction(id).get)
    }
    GraftFunctions.register(s)
    val first = entries
    GraftFunctions.register(s)
    first.zip(entries).foreach { case ((n, b0, i0), (_, b1, i1)) =>
      assert((b1 eq b0) && (i1 eq i0), s"$n was re-registered")
    }
  }

  test("dot/norm match interpreted and codegen paths") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Array(1.0f, 0.5f, -2.0f), Array(2.0f, 4.0f, 1.0f))).toDF("a", "b")
    val got = df.select(
      call_function("graft_dot", col("a"), col("b")),
      call_function("graft_l2norm", col("a"))).head()
    assert(math.abs(got.getDouble(0) - 2.0) < 1e-12)
    assert(math.abs(got.getDouble(1) - math.sqrt(1.0 + 0.25 + 4.0)) < 1e-12)
  }

  test("GraftExtensions registers the same function set") {
    // unit-level: apply against a fresh extensions container that
    // records every identifier it is handed
    val injected = scala.collection.mutable.Buffer.empty[String]
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    }
    new GraftExtensions().apply(ext) // must not throw; wiring is typed
    // the conf path (spark.sql.extensions) and the imperative path
    // (GraftFunctions.register) must expose the IDENTICAL name set
    val names = injected.toSet
    assert(injected.size === names.size, s"a name injected twice: $injected")
    assert(names === GraftFunctions.names,
      s"extension/imperative drift: only-ext=${names -- GraftFunctions.names} " +
        s"only-imp=${GraftFunctions.names -- names}")
  }

  test("a wrong-arity SQL call fails with the list's arity error") {
    GraftFunctions.register(spark)
    val err = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0F))").head()
    }
    assert(err.getMessage.contains("graft_dot expects 2 argument(s), got 1"),
      s"expected the arity error, got: $err")
  }

  /** A session whose function registry holds no graft function: the
    * Scala helpers below must analyze without one.
    */
  private def unregistered(): org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    val err = intercept[Exception] {
      s.sql("SELECT graft_l2norm(array(1.0F))").head()
    }
    assert(err.getMessage.contains("UNRESOLVED_ROUTINE"), err.getMessage)
    s
  }

  test("Vectors.dotD/normD/signPack/hamming resolve in a session that " +
      "never registered graft's functions") {
    val s = unregistered()
    import s.implicits._
    val r = Seq((Array(1.0f, 0.5f, -2.0f), Array(2.0f, 4.0f, 1.0f))).toDF("a", "b")
      .select(graft.sim.Vectors.dotD(col("a"), col("b")),
        graft.sim.Vectors.normD(col("a")),
        graft.sim.Vectors.signPack(col("a")),
        graft.sim.Vectors.hamming(graft.sim.Vectors.signPack(col("a")),
          graft.sim.Vectors.signPack(col("b")))).head()
    assert(math.abs(r.getDouble(0) - 2.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - math.sqrt(1.0 + 0.25 + 4.0)) < 1e-12)
    assert(r.getSeq[Long](2) === Seq(3L)) // bits 0 and 1 positive
    assert(r.getLong(3) === 1L) // only element 2's sign differs
  }

  test("SimHash.simhash resolves in a session that never registered " +
      "graft's functions and equals the composable formulation") {
    val s = unregistered()
    import s.implicits._
    val hs = transform(col("toks"), t => xxhash64(t))
    val composed = (0 until 64).map { b =>
      val cnt = aggregate(hs, lit(0), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1))
      when(cnt > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val rows = Seq(Seq("a", "b", "a"), Seq("the", "quick", "brown", "fox"))
      .toDF("toks")
      .select(graft.dedup.SimHash.simhash(col("toks")), composed).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("MinHashLSH.signatures resolves in a session that never " +
      "registered graft's functions and equals a driver-side replay") {
    val s = unregistered()
    import s.implicits._
    import graft.functions.MinHashLanes.{A, B, NumLanes}
    val docs = Seq((1L, Seq("x y z", "y z w")), (2L, Seq("totally different")))
    val got = graft.dedup.MinHashLSH.signatures(docs.toDF("doc_id", "shingles"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    docs.foreach { case (id, sh) =>
      val hs = sh.map { t =>
        val b = t.getBytes("UTF-8")
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length,
          graft.functions.MinHashLanes.Seed)
      }
      assert(got(id) === (0 until NumLanes).map(l => hs.map(A(l) * _ + B(l)).min))
    }
  }

  test("BloomMembership.matches resolves in a session that never " +
      "registered graft's functions and equals the exact semi join") {
    val s = unregistered()
    import s.implicits._
    val seen = (1L to 50L).map(i => (i, s"seen $i")).toDF("doc_id", "text")
    val probe = ((101L to 110L).map(i => (i, s"seen ${i - 100}")) ++
      (201L to 210L).map(i => (i, s"novel $i"))).toDF("doc_id", "text")
    val got = graft.dedup.BloomMembership.matches(probe, seen,
        col("text"), col("text"), expectedN = 50L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === (101L to 110L).toSet)
  }

  test("heavy hitters: exact when capacity exceeds cardinality") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val words = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val out = words.toDF("w")
      .agg(call_function("graft_heavy_hitters", col("w"), lit(10)))
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ===
      Seq(("a", 5L, 0L), ("b", 3L, 0L), ("c", 1L, 0L)))
  }

  test("heavy hitters: bounded state under eviction keeps the frequent item") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // capacity 2, stream with one dominant item: it must survive with
    // cnt >= true frequency (SpaceSaving overestimates, never loses it)
    val words = (1 to 50).map(_ => "hot") ++ (1 to 10).map(i => s"cold$i")
    val out = words.toDF("w").coalesce(1)
      .agg(call_function("graft_heavy_hitters", col("w"), lit(2)))
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(out.size === 2)
    val hot = out.find(_.getString(0) == "hot")
    assert(hot.isDefined && hot.get.getLong(1) >= 50L)
  }

  test("bloom filter: no false negatives across partition merges") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val keys = (1L to 2000L).toDF("k").repartition(8)
    val filter = keys
      .agg(call_function("graft_bloom_agg", xxhash64(col("k")), lit(65536), lit(7)))
      .head().getAs[Array[Byte]](0)
    // every inserted key must test positive, regardless of which
    // partition's partial filter it landed in before the OR-merge
    val misses = (1L to 2000L).count { k =>
      val h = spark.range(1).select(xxhash64(lit(k))).head().getLong(0)
      !graft.functions.BloomUtil.mightContain(filter, h)
    }
    assert(misses === 0, s"bloom filter produced $misses false negatives")
  }

  test("bloom filter: false-positive rate near the sized target") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val n = 5000L
    val m = graft.functions.BloomUtil.optimalNumBits(n, 0.01)
    val k = graft.functions.BloomUtil.optimalNumHashes(m, n)
    val filter = (1L to n).toDF("k")
      .agg(call_function("graft_bloom_agg", xxhash64(col("k")), lit(m), lit(k)))
      .head().getAs[Array[Byte]](0)
    // probe keys disjoint from the inserted range; xxhash64 of a long is
    // computed spark-side once, then tested against the serialized filter
    val probeHashes = (1000001L to 1010000L).toDF("k")
      .select(xxhash64(col("k"))).collect().map(_.getLong(0))
    val fp = probeHashes.count(graft.functions.BloomUtil.mightContain(filter, _))
    val rate = fp.toDouble / probeHashes.length
    assert(rate < 0.05, s"fpp $rate far above the 0.01 target")
  }

  test("bloom contains is SQL-callable and rejects junk types") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_bloom_contains(f, xxhash64(42L)) AS hit,
        |       graft_bloom_contains(f, xxhash64(-42L)) AS miss_or_fp
        |FROM (SELECT graft_bloom_agg(xxhash64(id), 4096, 5) AS f
        |      FROM range(0, 100))""".stripMargin).head()
    assert(r.getBoolean(0), "inserted key must hit")
    val err = intercept[Exception] {
      spark.sql("SELECT graft_bloom_agg(xxhash64(id), id, 5) FROM range(10)")
        .head()
    }
    assert(err.getMessage.contains("literal"),
      s"non-foldable numBits should fail clearly, got: ${err.getMessage}")
  }

  test("minhash lanes: permutation-invariant, sensitive to content") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, Array("x y z", "y z w")),
      (2L, Array("y z w", "x y z")),
      (3L, Array("totally different"))).toDF("id", "sh")
    val lanes = df.select(col("id"), call_function("graft_minhash_lanes", col("sh")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(lanes(1L) === lanes(2L), "min over a set ignores order")
    assert(lanes(1L) !== lanes(3L))
  }

  test("graft_nfc folds decomposed and composed spellings together") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val composed = "caf\u00e9"
    val decomposed = "cafe\u0301" // e + combining acute
    val ascii = "plain ascii"
    val out = Seq(composed, decomposed, ascii).toDF("t")
      .select(call_function("graft_nfc", col("t")).as("n"),
        length(col("t")).as("raw_len"))
      .collect()
    assert(out(0).getString(0) === composed)
    assert(out(1).getString(0) === composed, "NFC must compose e+U+0301")
    assert(out(1).getAs[Int]("raw_len") === 5) // inputs really differed
    assert(out(2).getString(0) === ascii)
  }

  test("count-min estimate: exact at ample width, bounded under collisions") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // zipfish counts over 60 keys
    val rows = (0 until 60).flatMap(k => Seq.fill(1 + 600 / (k + 1))(s"k$k"))
    val df = rows.toDF("k")
    val n = rows.size.toLong
    def estimates(eps: Double) = {
      val sk = df.agg(expr(s"count_min_sketch(k, ${eps}d, 0.99d, 7)").as("cms"))
      df.groupBy("k").agg(count(lit(1)).as("exact"))
        .crossJoin(broadcast(sk))
        .select(col("k"), col("exact"),
          call_function("graft_cms_estimate", col("cms"), col("k")).as("est"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
    }
    // wide sketch: exact on every key
    estimates(0.0001).foreach { case (exact, est) => assert(est === exact) }
    // forced collisions (w = ceil(2/eps) = 4 cells): never underestimates,
    // stays within the eps*N overestimate bound
    estimates(0.5).foreach { case (exact, est) =>
      assert(est >= exact, "CMS must never underestimate")
      assert(est <= exact + (0.5 * n).toLong, s"est $est exceeds eps*N bound")
    }
  }

  test("bitmap and-count: popcount of the intersection, any lengths") {
    import graft.functions.BitmapAndCount
    // known bytes: 0b1111_0000 & 0b1010_1010 = 0b1010_0000 -> 2 bits
    assert(BitmapAndCount.compute(
      Array[Byte](0xF0.toByte), Array[Byte](0xAA.toByte)) === 2L)
    // disjoint
    assert(BitmapAndCount.compute(
      Array[Byte](0x0F.toByte), Array[Byte](0xF0.toByte)) === 0L)
    // mismatched lengths: bytes past the shorter operand hold no bits
    assert(BitmapAndCount.compute(
      Array[Byte](0xFF.toByte), Array[Byte](0xFF.toByte, 0xFF.toByte)) === 8L)
    assert(BitmapAndCount.compute(Array.empty[Byte],
      Array[Byte](0xFF.toByte)) === 0L)
  }

  test("bitmap and-count in-plan: self-AND = bitmap_count; exact vs distinct join") {
    GraftFunctions.register(spark)
    // two overlapping key sets built with the engine's own bitmap agg
    val r = spark.sql(
      """SELECT graft_bitmap_and_count(a.bm, a.bm) AS self_cnt,
        |       bitmap_count(a.bm) AS ref_cnt,
        |       graft_bitmap_and_count(a.bm, b.bm) AS inter_cnt
        |FROM (SELECT bitmap_construct_agg(bitmap_bit_position(id)) AS bm
        |      FROM range(1, 101)) a,
        |     (SELECT bitmap_construct_agg(bitmap_bit_position(id)) AS bm
        |      FROM range(60, 161)) b""".stripMargin).head()
    assert(r.getLong(0) === r.getLong(1))
    assert(r.getLong(0) === 100L)
    assert(r.getLong(2) === 41L) // [60, 100] overlap
    // wrong types rejected at analysis
    val err = intercept[Exception] {
      spark.sql("SELECT graft_bitmap_and_count(1, 2)").head()
    }
    assert(err.getMessage.toLowerCase.contains("binary"),
      s"expected a BINARY type error, got: ${err.getMessage}")
  }
}
