package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** Generative invariants for the pure-expression operators: the example
  * specs pin known answers; these pin the ALGEBRA across arbitrary
  * token counts and parameters, where off-by-ones live. Driven through
  * scalacheck's own runner (scalatestplus isn't in the offline cache);
  * each generated case list evaluates as one local DataFrame pass.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark

  private def checkProp(p: Prop, tests: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(tests)
        .withInitialSeed(org.scalacheck.rng.Seed(42L)), p)
    assert(res.passed, res.status.toString)
  }

  private def chunksOf(cases: List[(Int, Int, Int)]): Seq[(Int, Int, Int, Seq[String])] = {
    import spark.implicits._
    val rows = cases.zipWithIndex.map { case ((len, c, st), i) =>
      (i, (1 to len).map("t" + _).mkString(" "), c, st)
    }
    // one job: group params share a (chunk, stride) pair per row, so the
    // expression is built per distinct (c, st) and unioned
    rows.groupBy(r => (r._3, r._4)).toSeq.flatMap { case ((c, st), group) =>
      val df = group.toDF("i", "text", "c", "st")
        .select(col("i"), graft.text.TextOps.chunked(
          graft.text.TextOps.tokens(col("text")), c, st).as("chunks"))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
      group.map { case (i, _, _, _) =>
        val (len, cc, sst) = cases(i)
        (len, cc, sst, df(i))
      }
    }
  }

  test("chunked: count, content, coverage for arbitrary shapes") {
    val gen = Gen.listOfN(6, for {
      len <- Gen.choose(1, 120)
      chunk <- Gen.choose(1, 40)
      stride <- Gen.choose(1, chunk)
    } yield (len, chunk, stride))
    checkProp(forAll(gen) { cases =>
      Prop.all(chunksOf(cases).map { case (len, c, st, chunks) =>
        val toks = (1 to len).map("t" + _)
        val expectedN = 1 + math.max(0, math.ceil((len - c).toDouble / st).toInt)
        val contentOk = chunks.zipWithIndex.forall { case (ch, i) =>
          ch == toks.slice(i * st, i * st + c).mkString(" ")
        }
        Prop(chunks.length == expectedN && contentOk &&
          chunks.last.split(" ").last == s"t$len" &&
          chunks.forall(_.split(" ").length <= c)) :| s"len=$len c=$c st=$st"
      }: _*)
    }, tests = 10)
  }

  test("LshBuckets: native buckets equal driver-side reference on arbitrary vectors") {
    import spark.implicits._
    // reference semantics: planes from Random(seed) in fill order, dot
    // in double over min(|v|, dim), bit set unless acc < 0 (Spark's
    // NaN-above-everything comparison). Generated vectors include
    // NaN/Inf entries and short/overlong lengths — the edges the
    // example spec's clean corpus never hits.
    val (tables, bits, dim, seed) = (4, 6, 8, 7L)
    val planes = {
      val rng = new scala.util.Random(seed)
      Array.fill(tables * bits * dim)(if (rng.nextBoolean()) 1.0f else -1.0f)
    }
    def reference(v: Seq[Float]): Seq[Int] = {
      val n = math.min(v.length, dim)
      (0 until tables).map { t =>
        (0 until bits).foldLeft(0) { (bucket, b) =>
          val base = (t * bits + b) * dim
          var acc = 0.0
          var j = 0
          while (j < n) { acc += v(j).toDouble * planes(base + j).toDouble; j += 1 }
          if (!(acc < 0)) bucket | (1 << b) else bucket
        }
      }
    }
    val genFloat = Gen.frequency(
      8 -> Gen.choose(-10.0f, 10.0f),
      1 -> Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
        0.0f, -0.0f))
    val gen = Gen.listOfN(12, for {
      len <- Gen.choose(0, dim + 4)
      vec <- Gen.listOfN(len, genFloat)
    } yield vec)
    graft.functions.GraftFunctions.register(spark)
    checkProp(forAll(gen) { vecs =>
      val got = vecs.zipWithIndex.map { case (v, i) => (i, v) }
        .toDF("i", "v")
        .select(col("i"), call_function("graft_lsh_buckets",
          col("v").cast("array<float>"), lit(tables), lit(bits), lit(seed),
          lit(dim)).as("b"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toSeq).toMap
      vecs.zipWithIndex.forall { case (v, i) => got(i) == reference(v) }
    }, tests = 10)
  }

  test("vector kernels: null elements read as 0.0f (nulls ≡ zeros)") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    // the shared contract of every graft vector kernel: a null ELEMENT
    // contributes 0.0, so a vector with nulls computes exactly what its
    // zero-filled twin computes — one missing dimension never nulls out
    // a row's buckets/probes/score
    val genEntry = Gen.frequency(
      6 -> Gen.choose(-10.0f, 10.0f).map(Option(_)),
      2 -> Gen.const(Option.empty[Float]))
    val gen = Gen.listOfN(8, for {
      len <- Gen.choose(1, 12)
      vec <- Gen.listOfN(len, genEntry)
    } yield vec)
    graft.functions.GraftFunctions.register(spark)
    val centroids = Array(0 -> Array.fill(8)(1.0f), 1 -> Array.fill(8)(-0.5f),
      2 -> Array.tabulate(8)(i => if (i % 2 == 0) 2.0f else -2.0f))
    checkProp(forAll(gen) { vecs =>
      val withNulls = vecs.zipWithIndex.map { case (v, i) => (i, v) }
        .toDF("i", "v")
      val zeroFilled = vecs.zipWithIndex
        .map { case (v, i) => (i, v.map(_.getOrElse(0.0f))) }
        .toDF("i", "v")
      def eval(df: org.apache.spark.sql.DataFrame): Map[Int, Seq[Any]] =
        df.select(col("i"),
            call_function("graft_lsh_buckets", col("v").cast("array<float>"),
              lit(4), lit(6), lit(7L), lit(8)).as("buckets"),
            ColumnBridge.column(graft.functions.NearestCells(
              ColumnBridge.expression(col("v").cast("array<float>")),
              centroids.map(_._1), centroids.map(_._2), 2)).as("cells"),
            call_function("graft_l2norm", col("v").cast("array<float>"))
              .as("nrm"))
          .collect()
          .map(r => r.getInt(0) ->
            Seq(r.getSeq[Int](1).toSeq, r.getSeq[Int](2).toSeq, r.getDouble(3)))
          .toMap
      eval(withNulls) == eval(zeroFilled)
    }, tests = 10)
  }

  test("NearestCells: native probes equal the literal Spark twin on edge vectors") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ColumnBridge
    // compare against the literal struct-sort formulation THROUGH SPARK
    // (not a Scala reference): that pins the native expression to
    // Spark's own double ordering — NaN-last (zero vectors give NaN
    // cosines), -0.0 == 0.0 — on vectors the clean corpus never has
    val dim = 6
    val rng = new scala.util.Random(11L)
    val centroids: Array[(Int, Array[Float])] = Array.tabulate(5) { i =>
      (i * 3, Array.fill(dim)(rng.nextFloat() * 2 - 1))
    }
    // nonzero-norm vectors only for the twin comparison: the literal
    // formulation ANSI-fails (DIVIDE_BY_ZERO) on zero-norm input — the
    // documented divergence asserted separately below
    val genFloat = Gen.frequency(
      6 -> Gen.choose(-5.0f, 5.0f).suchThat(_ != 0.0f),
      1 -> Gen.oneOf(1.0f, -1.0f, 0.5f))
    val gen = Gen.listOfN(10, for {
      len <- Gen.choose(1, dim + 2)
      vec <- Gen.listOfN(len, genFloat)
    } yield vec)
    graft.functions.GraftFunctions.register(spark)
    checkProp(forAll(gen) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "v")
        .select(col("i"), col("v").cast("array<float>").as("v"))
      val native = df.select(col("i"), ColumnBridge.column(
          graft.functions.NearestCells(ColumnBridge.expression(col("v")),
            centroids.map(_._1), centroids.map(_._2), 3)).as("cells"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toSeq).toMap
      val scored = array(centroids.toIndexedSeq.map { case (cid, cv) =>
        struct(
          (-(call_function("graft_dot", col("v"), typedlit(cv.toSeq)) /
            (call_function("graft_l2norm", col("v")) *
              call_function("graft_l2norm", typedlit(cv.toSeq))))).as("negcos"),
          lit(cid).as("cell"))
      }: _*)
      val literal = df.select(col("i"),
          transform(slice(array_sort(scored), 1, 3),
            s => s.getField("cell")).as("cells"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toSeq).toMap
      vecs.indices.forall(i => native(i) == literal(i))
    }, tests = 8)
    // the documented divergence: zero-norm / empty vectors do NOT fail
    // the job (the literal twin ANSI-errors); NaN cosines sort last
    // uniformly → deterministic smallest-id probes
    val degenerate = Seq((0, Seq.empty[Float]), (1, Seq(0.0f, -0.0f, 0.0f)))
      .toDF("i", "v")
      .select(col("i"), col("v").cast("array<float>").as("v"))
    val cells = degenerate.select(col("i"), ColumnBridge.column(
        graft.functions.NearestCells(ColumnBridge.expression(col("v")),
          centroids.map(_._1), centroids.map(_._2), 3)).as("cells"))
      .collect().map(r => r.getSeq[Int](1).toSeq)
    val smallest = centroids.map(_._1).sorted.take(3).toSeq
    assert(cells.forall(_ == smallest),
      s"degenerate vectors must probe the smallest cell ids, got ${cells.toSeq}")
  }

  test("Bench marks-and-continues past a failing query; line stays parseable") {
    // one broken table must never blank the whole artifact (round-6
    // regression class): the failing query lands in `failed`, is
    // excluded from the total, and the JSON line still parses
    val good: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => { import s.implicits._; Seq(1, 2, 3).toDF("x") }
    val bad: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (_, _) => throw new RuntimeException(
        "simulated analysis error\nwith a multi-line\npayload")
    val results = graft.Bench.measure(spark, "/nonexistent",
      Map("q_ok" -> good, "q_broken" -> bad))
    assert(results("q_ok") >= 0.0)
    assert(results("q_broken") === -1.0)
    val line = graft.Bench.shortLine(results, "/nonexistent")
    val full = graft.Bench.renderLine(results, "/nonexistent", 9, 0.0)
    Seq(line, full).foreach { l =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
      assert(node.get("n_failed").asInt() === 1)
      assert(node.get("failed").get(0).asText() === "q_broken")
      // total excludes the sentinel: never negative, equals q_ok's time
      assert(node.get("value").asDouble() >= 0.0)
      assert(math.abs(node.get("value").asDouble() - results("q_ok")) < 0.005)
      assert(node.get("queries").has("q_broken") === false,
        "failed queries must not appear as timings")
    }
    // the raw drift-audit artifact: 3 sweep passes per good query,
    // empty array (never fabricated timings) for the broken one
    val raw = graft.Bench.measureRaw(spark, "/nonexistent",
      Map("q_ok" -> good, "q_broken" -> bad))
    assert(raw("q_ok").length === graft.Bench.Passes)
    assert(raw("q_broken").isEmpty)
    val rawLine = graft.Bench.renderRaw(raw, "/nonexistent")
    val rawNode = new com.fasterxml.jackson.databind.ObjectMapper().readTree(rawLine)
    assert(rawNode.get("queries").get("q_ok").size() === graft.Bench.Passes)
    assert(rawNode.get("queries").get("q_broken").size() === 0)
    assert(graft.Bench.minima(raw)("q_ok") === raw("q_ok").min)
    // declared n² validators are timed in sweep 1 ONLY (their minima
    // never come from steal-free luck; the saved wall-clock is what
    // keeps 3 full sweeps of the real surface inside the budget)
    val oneValidator = graft.Bench.SinglePassQueries.head
    val rawV = graft.Bench.measureRaw(spark, "/nonexistent",
      Map("q_ok" -> good, oneValidator -> good))
    assert(rawV("q_ok").length === graft.Bench.Passes)
    assert(rawV(oneValidator).length === 1,
      "a declared validator must be timed once, not per sweep")
    assert(graft.Bench.minima(rawV)(oneValidator) >= 0.0)
  }

  test("Bench steal-guard: a forced spike re-probes and clears, a real " +
    "slow query tags steal_suspect, a throwing re-probe tags " +
    "reprobe_failed (never steal_suspect)") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    val sfDir = "/nonexistent/sf0.1"
    val fast: (SparkSession, String) => DataFrame =
      (s, _) => { import s.implicits._; Seq(1).toDF("x") }
    val slow: (SparkSession, String) => DataFrame =
      (s, _) => { Thread.sleep(1200L); import s.implicits._; Seq(1).toDF("x") }
    val dies: (SparkSession, String) => DataFrame =
      (_, _) => throw new RuntimeException("simulated warm-re-probe death")
    // refs of 0.1 s floor the threshold at 0.75 s (stealThresholdS)
    val refs = Map("q_recovers" -> 0.1, "q_still_slow" -> 0.1,
      "q_dies_warm" -> 0.1, "q_fine" -> 0.1)
    val raw = Map(
      "q_recovers" -> Seq(5.0), // spiked in sweeps, fast warm → cleared
      "q_still_slow" -> Seq(5.0), // still over after re-probe → suspect
      "q_dies_warm" -> Seq(5.0), // re-probe throws → reprobe_failed
      "q_fine" -> Seq(0.1)) // under threshold → untouched
    val queries = Map("q_recovers" -> fast, "q_still_slow" -> slow,
      "q_dies_warm" -> dies, "q_fine" -> fast)
    val (aug, suspects, rFailed) =
      graft.Bench.reprobeValidators(spark, sfDir, queries, raw, refs)
    assert(aug("q_recovers").length === 2 && aug("q_recovers").min < 0.75,
      "a steal spike must clear on a fast warm re-probe")
    assert(suspects === Seq("q_still_slow"))
    assert(rFailed === Seq("q_dies_warm"),
      "a throwing re-probe is a regression signal, not steal")
    assert(aug("q_dies_warm") === Seq(5.0), "no fabricated timings")
    assert(aug("q_fine") === Seq(0.1))
    // the guard is inert off sf0.1 (the refs are sf0.1 numbers)
    val (aug2, s2, f2) = graft.Bench.reprobeValidators(
      spark, "/nonexistent/sf0.01", queries, raw, refs)
    assert(aug2 === raw && s2.isEmpty && f2.isEmpty)
    // budget exhaustion: over-threshold queries tag on sweep minima
    // alone, and no re-probe runs (no timing appended anywhere)
    val (aug3, s3, f3) = graft.Bench.reprobeValidators(
      spark, sfDir, queries, raw, refs, budgetS = -1.0)
    assert(aug3 === raw && f3.isEmpty)
    assert(s3.sorted === Seq("q_dies_warm", "q_recovers", "q_still_slow"))
    // the full JSON line carries both arrays and stays parseable
    val line = graft.Bench.renderLine(graft.Bench.minima(aug), sfDir,
      9, 0.0, suspects, rFailed)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("steal_suspect").get(0).asText() === "q_still_slow")
    assert(node.get("reprobe_failed").get(0).asText() === "q_dies_warm")
    // the full-surface reference table covers the whole registry
    assert(graft.BenchRefs.Sf01Ref.size >= 218)
  }

  test("shard hash: deterministic, all shards hit, no gross skew") {
    import spark.implicits._
    val ids = (0L until 4000L).toDF("id")
    val assigned = graft.ops.ShuffleShard.assign(ids, "id", seed = 9L, nShards = 16)
    val once = assigned.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val twice = assigned.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(once === twice, "hash must be pure")
    val byShard = once.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byShard.keySet === (0L until 16L).toSet)
    // 4000/16 = 250 expected, binomial sd ≈ 15 — generous ±100 bounds
    byShard.values.foreach(n => assert(n > 150 && n < 350, s"skewed shard: $n"))
  }

  test("Bpe: round-trip and token-count bounds on arbitrary corpora") {
    import graft.text.Bpe
    val word = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val gen = for {
      words <- Gen.nonEmptyListOf(Gen.zip(word, Gen.chooseNum(1L, 40L)))
      merges <- Gen.chooseNum(0, 60)
      probe <- Gen.listOfN(5, word)
    } yield (words, merges, probe)
    checkProp(forAll(gen) { case (words, merges, probe) =>
      val m = Bpe.trainOnCounts(words, merges)
      // every corpus word AND every novel word round-trips; token count
      // bounded by [1, codepoints]
      (words.map(_._1) ++ probe).forall { w =>
        val toks = Bpe.encodeWord(m, w)
        toks.mkString == w && toks.nonEmpty && toks.length <= w.length &&
        toks.forall(_.nonEmpty)
      } && m.merges.size <= merges
    }, 60)
  }

  test("BitmapAndCount: equals the set-intersection model") {
    import graft.functions.BitmapAndCount
    // independent model: bytes -> the SET of set-bit indices; the AND
    // popcount must equal the intersection cardinality
    def bits(a: Array[Byte]): Set[Int] =
      (for {
        i <- a.indices
        j <- 0 until 8
        if ((a(i) >> j) & 1) == 1
      } yield i * 8 + j).toSet
    val bytesGen = Gen.chooseNum(0, 64).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    checkProp(forAll(Gen.zip(bytesGen, bytesGen)) { case (a, b) =>
      BitmapAndCount.compute(a, b) == bits(a).intersect(bits(b)).size.toLong &&
      BitmapAndCount.compute(a, b) == BitmapAndCount.compute(b, a) &&
      BitmapAndCount.compute(a, a) == bits(a).size.toLong
    }, 80)
  }

  test("SignPack/HammingDist: pack+popcount equals the per-dim model") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def pack(v: Array[Float]): Array[Long] =
      graft.functions.SignPack.compute(
        ArrayData.toArrayData(v)).toLongArray()
    def hd(a: Array[Long], b: Array[Long]): Long =
      graft.functions.HammingDist.compute(
        ArrayData.toArrayData(a), ArrayData.toArrayData(b))
    val vecGen = for {
      n <- Gen.choose(1, 200)
      v <- Gen.listOfN(n, Gen.oneOf(
        Gen.chooseNum(-10f, 10f), Gen.const(0f), Gen.const(Float.NaN)))
    } yield v.toArray
    checkProp(forAll(Gen.zip(vecGen, vecGen)) { case (a, b) =>
      val n = math.min(a.length, b.length)
      val model = (0 until n).count(i => (a(i) > 0f) != (b(i) > 0f)).toLong
      pack(a).length == (a.length + 63) / 64 &&
      hd(pack(a).take((n + 63) / 64)
          .zipWithIndex.map { case (w, i) => // mask trailing dims beyond n
            if ((i + 1) * 64 <= n) w else w & ((1L << (n - i * 64)) - 1) },
        pack(b).take((n + 63) / 64)
          .zipWithIndex.map { case (w, i) =>
            if ((i + 1) * 64 <= n) w else w & ((1L << (n - i * 64)) - 1) }) == model &&
      hd(pack(a), pack(a)) == 0L
    }, 60)
  }

  test("FuzzyJoin blocking is lossless on arbitrary small-alphabet corpora") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // small alphabet + short strings = dense near-miss space, the
    // regime where a lossy candidate filter would actually show
    val strGen = for {
      n <- Gen.choose(1, 9)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    checkProp(forAll(Gen.listOfN(18, strGen)) { vals =>
      val names = vals.distinct
      val naive = (for {
        a <- names; b <- names if a < b
        d = lev(a, b) if d <= 2
      } yield (a, b, d)).toSet
      val blocked = graft.ops.FuzzyJoin
        .selfJoin(vals.toDF("v"), "v", maxDist = 2)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
        .toSet
      blocked == naive
    }, 12)
  }

  test("ZOrder.zvalue: per-dimension monotone, bijective on 16-bit pairs") {
    import spark.implicits._
    val g = Gen.choose(0L, 0xFFFFL)
    checkProp(forAll(Gen.listOfN(24, Gen.zip(g, g))) { ps =>
      val pairs = ps.distinct
      val zs = pairs.toDF("x", "y")
        .select(graft.ops.ZOrder.zvalue(col("x"), col("y")).as("z"))
        .collect().map(_.getLong(0))
      // distinct pairs → distinct codes (bit interleave is injective)
      zs.distinct.length == pairs.length &&
      // fixing one dim, the code is monotone in the other
      pairs.zip(zs).forall { case ((x, y), z) =>
        pairs.zip(zs).forall { case ((x2, y2), z2) =>
          (x != x2 || y == y2 || (y < y2) == (z < z2)) &&
          (y != y2 || x == x2 || (x < x2) == (z < z2))
        }
      }
    }, 12)
  }

  test("pack_concat: dense offsets and token conservation on arbitrary corpora") {
    import spark.implicits._
    val gen = Gen.listOfN(12, Gen.chooseNum(0, 9))
    checkProp(forAll(gen) { lens =>
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_pc_prop").toString
      lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, (1 to n).map(k => s"w${i}_$k").mkString(" "))
      }.toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
      val rows = graft.queries.CurationQueries.packConcat(spark, tmp)
        .collect()
      var ok = rows.length == lens.length
      var expect = 0L
      rows.sortBy(_.getLong(2)).foreach { r =>
        ok &&= r.getLong(2) == expect
        expect += r.getLong(1) + 1
      }
      ok && expect == lens.map(_ + 1L).sum
    }, 6)
  }

  test("mix_token_budget: kept set equals a driver-side greedy-prefix replay") {
    import spark.implicits._
    // varied vocab richness → varied entropies; some zero-length docs
    val docGen = Gen.chooseNum(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "bb", "cd", "xyz", "qq")))
    checkProp(forAll(Gen.listOfN(10, docGen)) { docs =>
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_tb_prop").toString
      docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
      val kept = graft.queries.CurationQueries.mixTokenBudget(spark, tmp)
        .collect().map(_.getLong(0)).toSet
      // driver replay: order by (quantized entropy desc, id), greedy prefix
      val scored = docs.zipWithIndex.map { case (ws, i) =>
        val text = ws.mkString(" ")
        val eq = math.floor(graft.functions.CharEntropy.compute(
          org.apache.spark.unsafe.types.UTF8String.fromString(text))
          * 10000 + 0.5).toLong
        (i.toLong, ws.length.toLong, eq)
      }
      val budget = scored.map(_._2).sum / 2
      var cum = 0L
      val want = scala.collection.mutable.Set[Long]()
      scored.sortBy(d => (-d._3, d._1)).foreach { case (id, nt, _) =>
        if (cum + nt <= budget) want += id
        cum += nt
      }
      kept == want.toSet
    }, 6)
  }

  // random edge lists with self-loops and duplicate edges left in: a
  // node whose only edge is a self-loop must still get a label, and the
  // union-find threshold counts raw edge rows, duplicates included
  private val ccEdges = for {
    n <- Gen.choose(2, 24)
    m <- Gen.choose(1, 30)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n.toLong - 1)
      b <- Gen.choose(0L, n.toLong - 1)
    } yield (a, b))
    dups <- Gen.choose(0, m)
  } yield edges ++ edges.take(dups)

  test("ConnectedComponents' distributed loop equals driver-side union-find on arbitrary random graphs") {
    import spark.implicits._
    checkProp(forAll(ccEdges) { edges =>
      // smallCollectMax = 0 pins the DISTRIBUTED star alternation —
      // the default would take the same union-find this property
      // checks against
      val got = graft.dedup.ConnectedComponents
        .labels(edges.toDF("id_a", "id_b"), smallCollectMax = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // driver union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical min-label per component
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val byRoot = nodes.groupBy(find)
      val want = byRoot.flatMap { case (_, ns) =>
        val m = ns.min; ns.map(_ -> m) }.toMap
      got == want
    }, 30)
  }

  test("labels: the driver union-find early exit (the default) equals the distributed loop") {
    import spark.implicits._
    checkProp(forAll(ccEdges) { edges =>
      val df = edges.toDF("id_a", "id_b")
      def m(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fast = m(graft.dedup.ConnectedComponents.labels(df))
      val slow = m(graft.dedup.ConnectedComponents
        .labels(df, smallCollectMax = 0))
      // the threshold edge on the raw edge rows: smallCollectMax = E
      // takes the union-find, E - 1 the loop
      val e = edges.length.toLong
      val edge = Seq(e, e - 1).map(k => m(graft.dedup.ConnectedComponents
        .labels(df, smallCollectMax = k)))
      fast == slow && edge.forall(_ == slow)
    }, 12)
  }

  test("Ngrams: the native kernel equals the zip_with construction on " +
    "arbitrary arrays, codegen'd and interpreted") {
    import org.apache.spark.sql.Column
    // the shifted-slice zip_with construction the kernel replaced, kept
    // as the reference twin: zip_with pads the shorter side with null,
    // concat null-propagates, array_compact drops the nulls
    def zipWithNgrams(arr: Column, n: Int, sep: String, distinct: Boolean): Column = {
      val grams = (1 until n).foldLeft(arr) { (acc, k) =>
        val shifted = slice(arr, lit(k + 1), greatest(size(arr) - k, lit(0)))
        zip_with(acc, shifted,
          (g, t) => if (sep.isEmpty) concat(g, t) else concat(g, lit(sep), t))
      }
      if (distinct) array_distinct(array_compact(grams)) else array_compact(grams)
    }
    val combos = for {
      n <- 1 to 4; sep <- Seq(" ", ""); distinct <- Seq(true, false)
    } yield (n, sep, distinct)
    // few distinct tokens so windows repeat (distinct has work to do);
    // non-ASCII of 2, 3 and 4 UTF-8 bytes; "" and " " as tokens
    val tok = Gen.frequency(
      1 -> Gen.const(null: String),
      8 -> Gen.oneOf("a", "b", "ab", "", " ", "é", "ß", "日本", "𝄞x"))
    val arr = Gen.frequency(
      1 -> Gen.const(null: List[String]),
      8 -> Gen.choose(0, 9).flatMap(Gen.listOfN(_, tok)))
    // a separate session: the factory-mode conf stays off the shared one
    for ((wholeStage, factory) <- Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      s.conf.set("spark.sql.codegen.factoryMode", factory)
      // a codegen compile error must fail, not fall back to interpreted
      s.conf.set("spark.sql.codegen.fallback", "false")
      import s.implicits._
      checkProp(forAll(Gen.listOfN(12, arr)) { arrs =>
        // repartition keeps the projection out of ConvertToLocalRelation,
        // which would evaluate it interpreted on the driver
        val df = arrs.zipWithIndex.map(_.swap).toDF("i", "toks").repartition(2)
        val cols = combos.flatMap { case (n, sep, distinct) => Seq(
          graft.text.TextOps.wordNgramsSep(col("toks"), n, sep, distinct),
          zipWithNgrams(col("toks"), n, sep, distinct)) }
        val rows = df.select(col("i") +: cols: _*).collect()
        Prop(rows.length == arrs.length && rows.forall { r =>
          // null == null, else element-wise Seq equality (order included)
          combos.indices.forall(c => r.get(1 + 2 * c) == r.get(2 + 2 * c))
        }) :| s"factoryMode=$factory"
      }, 8)
    }
  }

  test("splitAssign: deterministic, exhaustive, and 97/2/1-shaped on " +
    "arbitrary id sets") {
    import spark.implicits._
    val gen = Gen.listOfN(200, Gen.choose(0L, 1000000L)).map(_.distinct)
    checkProp(forAll(gen) { ids =>
      ids.isEmpty || {
        val a = graft.ops.ShuffleShard
          .splitAssign(ids.toDF("doc_id"), "doc_id", 31L)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        a.forall { case (_, b, s) =>
          b >= 0 && b < 100 &&
            s == (if (b < 97) "train" else if (b < 99) "val" else "test")
        } && a.length == ids.length
      }
    }, 8)
  }

  test("pack_stats: query equals the driver closed forms on generated " +
    "corpora INCLUDING docs past the block size (the truncation branch " +
    "no test-corpus doc reaches)") {
    import spark.implicits._
    val cap = 512L
    // word counts spanning the 512 boundary: the real corpora top out
    // below it, so n_dropped_tokens > 0 only ever happens here
    val gen = Gen.listOfN(8, Gen.choose(1, 1400))
    checkProp(forAll(gen) { lens =>
      lens.nonEmpty && {
        val dir = java.nio.file.Files.createTempDirectory("graft_packgen").toString
        lens.zipWithIndex.map { case (len, i) =>
          (i.toLong, (1 to len).map("w" + _).mkString(" "), "en", "s", len.toLong)
        }.toDF("doc_id", "text", "lang", "source", "n_chars")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val got = graft.queries.CurationQueries.packStats(spark, dir)
          .collect().map(r => r.getString(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
        val ns = lens.map(_ + 1L) // +1 EOS
        val tok = ns.sum
        val concatBlocks = (tok + cap - 1) / cap
        val padBlocks = ns.map(n => (n + cap - 1) / cap).sum
        val kept = ns.map(math.min(_, cap)).sum
        got("concat") == ((concatBlocks, tok, 0L, concatBlocks * cap - tok)) &&
        got("pad_per_doc") == ((padBlocks, tok, 0L, padBlocks * cap - tok)) &&
        got("truncate_per_doc") ==
          ((ns.length.toLong, kept, tok - kept, ns.length * cap - kept)) &&
        (!lens.exists(_ >= 512) || got("truncate_per_doc")._3 > 0)
      }
    }, 4)
  }

  test("Bench inter-sweep hygiene: persistent RDDs and cached frames " +
      "left by one sweep are evicted before the next") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val leaky: (SparkSession, String) => DataFrame = (s, _) => {
      // record how many persistent RDDs PRE-EXIST at call time, then
      // leak one frame-cache + one raw persisted RDD (the CC /
      // containment shape that pinned storage across sweeps pre-r12)
      seen += s.sparkContext.getPersistentRDDs.size
      import s.implicits._
      val df = Seq(1, 2, 3).toDF("x").cache()
      s.sparkContext.parallelize(Seq(1)).persist().count()
      df
    }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val raw = graft.Bench.measureRaw(spark, "/nonexistent",
      Map("q_leaky" -> leaky))
    assert(raw("q_leaky").length === graft.Bench.Passes)
    // every sweep starts from the same clean-session state: the leaks
    // of sweep k are gone before sweep k+1 runs
    assert(seen.toSeq === Seq.fill(graft.Bench.Passes)(0),
      s"pre-existing persistent RDDs per sweep: $seen")
    // post-run leftovers from the FINAL sweep are the caller's to drop
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
