package graft

import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.queries.TextQueries

class TextSpec extends SparkSpec {

  test("tokens lowercases, splits, drops empties") {
    import spark.implicits._
    val df = Seq("  Hello   WORLD  ", "").toDF("text")
    val out = df.select(TextOps.tokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) === Seq("hello", "world"))
    assert(out(1) === Seq.empty)
  }

  test("wordNgrams guards short docs; charNgrams slides correctly") {
    import spark.implicits._
    val df = Seq("a b c d", "a b").toDF("text")
    val out = df.select(
      TextOps.wordNgrams(TextOps.tokens(col("text")), 3).as("w3"),
      TextOps.charNgrams(col("text"), 3).as("c3")).collect()
    assert(out(0).getSeq[String](0) === Seq("a b c", "b c d"))
    assert(out(1).getSeq[String](0) === Seq.empty)
    assert(out(1).getSeq[String](1) === Seq("a b")) // "a b" is 3 chars: one 3-gram
  }

  test("fingerprint is deterministic and whitespace-normalized") {
    import spark.implicits._
    val df = Seq("Hello  World", "hello world", "hello worlds").toDF("text")
    val fp = df.select(TextOps.fingerprint(col("text"))).collect().map(_.getLong(0))
    assert(fp(0) === fp(1))
    assert(fp(0) !== fp(2))
    assert(fp.forall(v => v >= 0 && v < 1000000007L))
  }

  test("langPredict breaks ties by language code") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // no markers at all -> all scores 0 -> first lang code wins ("de")
    val df = Seq("xyzzy plugh").toDF("text")
    val out = df.select(TextOps.langPredict(TextOps.tokens(col("text")))).head()
    assert(out.getString(0) === "de")
  }

  test("native langPredict matches the composable formulation exactly") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // crafted edges: NULL text (null token array -> all scores null ->
    // smallest code on both paths), empty text, marker-free, shared
    // marker ("key" is in de AND en -> tie -> de), single-language
    // dominance, repeats
    val edges = Seq(null, "", "xyzzy plugh", "key key", "join fast the vector",
      "query scan order stream stream", "window big sort key small table")
      .toDF("text")
    val corpus = graft.util.Tables(spark, sf).documents.select(col("text"))
    val df = edges.unionByName(corpus)
    val toks = TextOps.tokens(col("text"))
    val diff = df.select(TextOps.langPredict(toks).as("a"),
        TextOps.langPredictComposable(toks).as("b"))
      .filter(col("a") =!= col("b") || col("a").isNull =!= col("b").isNull)
    assert(diff.count() === 0L)
  }

  test("langid beats chance on the labeled corpus") {
    val cm = TextQueries.textLangid(spark, sf).collect()
    val total = cm.map(_.getLong(2)).sum
    val correct = cm.filter(r => r.getString(0) === r.getString(1)).map(_.getLong(2)).sum
    assert(total === 500L)
    assert(correct.toDouble / total > 0.2, s"accuracy ${correct.toDouble / total}")
  }

  test("quality score stays in [0,1] and penalizes stopword soup") {
    import spark.implicits._
    val df = Seq("the a of and to the a of", "informative dense technical prose here")
      .toDF("text")
    val s = df.select(TextOps.qualityScore(TextOps.tokens(col("text"))))
      .collect().map(_.getDouble(0))
    assert(s.forall(v => v >= 0.0 && v <= 1.0))
    assert(s(1) > s(0))
  }

  test("corpus queries return full coverage") {
    assert(TextQueries.textTokens(spark, sf).count() === 500L)
    assert(TextQueries.textFingerprint(spark, sf).count() === 500L)
    assert(TextQueries.textNgrams(spark, sf).count() === 30L)
  }

  test("wordNgramsAll keeps multiplicity; wordNgrams dedups") {
    import spark.implicits._
    val df = Seq("go go go stop").toDF("text")
      .withColumn("toks", TextOps.tokens(col("text")))
    val all = df.select(TextOps.wordNgramsAll(col("toks"), 2))
      .head().getSeq[String](0)
    assert(all === Seq("go go", "go go", "go stop"))
    val distinct = df.select(TextOps.wordNgrams(col("toks"), 2))
      .head().getSeq[String](0).sorted
    assert(distinct === Seq("go go", "go stop"))
  }

  test("repetition metrics: degenerate doc scores high, varied doc low") {
    import spark.implicits._
    // textRepetition runs on the documents table; build expectations
    // from hand-computable docs via the same ops instead
    val df = Seq(
      (1L, "spam spam spam spam spam"),       // all 2-grams identical
      (2L, "one two three four five"))        // all 2-grams unique
      .toDF("doc_id", "text")
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        explode(TextOps.wordNgramsAll(col("toks"), 2)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg((sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).cast("double") /
        sum(col("cnt")).cast("double")).as("dup_frac"))
    val got = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === 1.0)
    assert(got(2L) === 0.0)
    val corpus = TextQueries.textRepetition(spark, sf).collect()
    assert(corpus.nonEmpty)
    assert(corpus.forall { r =>
      val (d, t) = (r.getDouble(2), r.getDouble(3))
      d >= 0.0 && d <= 1.0 && t > 0.0 && t <= 1.0
    })
  }

  test("tfidf top terms: rare planted term outranks common filler") {
    val out = TextQueries.tfidfTopterms(spark, sf).collect()
    // exactly k rows per doc (or fewer for tiny docs), ranks 1..k dense
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (_, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to rows.length))
      // scores non-increasing with rank
      val sorted = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("chunked: coverage, overlap, and the short-doc single chunk") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 12 tokens, chunk 5 / stride 3 → starts 0,3,6 and a final 9 (short)
    val doc12 = (1 to 12).map(i => s"w$i").mkString(" ")
    val short = "a b c"
    val out = Seq((1L, doc12), (2L, short)).toDF("doc_id", "text")
      .select(col("doc_id"),
        posexplode(graft.text.TextOps.chunked(
          graft.text.TextOps.tokens(col("text")), 5, 3)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val c1 = out.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    assert(c1 === Array(
      "w1 w2 w3 w4 w5", "w4 w5 w6 w7 w8", "w7 w8 w9 w10 w11", "w10 w11 w12"))
    // consecutive chunks share chunk-stride tokens; last token is covered
    assert(c1.last.endsWith("w12"))
    assert(out.filter(_._1 == 2L).map(_._3) === Array("a b c"))
  }

  test("charEntropy: known distributions, unicode codepoints, null/empty") {
    import spark.implicits._
    val df = Seq(
      Some("aaaa"),          // single symbol → 0 bits
      Some("abab"),          // uniform over 2 → exactly 1 bit
      Some("abcdabcdabcd"),  // uniform over 4 → exactly 2 bits
      // one ASTRAL codepoint repeated: per-codepoint counting sees a
      // single symbol (0 bits); per-UTF-16-unit counting would see two
      // alternating surrogates (1 bit) — this pins the codepoint loop
      Some("𝕏𝕏𝕏"),
      Some(""),              // empty → 0 by convention
      None                   // null → null
    ).toDF("text")
    val out = df.select(TextOps.charEntropy(col("text")).as("h")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    // uniform over 2^k symbols: every per-char term is cnt·k·1000
    // milli-bits EXACTLY, so the quantized sum is the true entropy
    assert(out(0) === Some(0.0))
    assert(out(1) === Some(1.0))
    assert(out(2) === Some(2.0))
    assert(out(3) === Some(0.0))
    assert(out(4) === Some(0.0))
    assert(out(5) === None)
    // non-dyadic distribution: matches an independently-written
    // -Σ p·log2 p to well inside the milli-bit quantum
    val s = "aab"
    val expected = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3)) / math.log(2)
    val got = Seq(s).toDF("text")
      .select(TextOps.charEntropy(col("text"))).head().getDouble(0)
    assert(math.abs(got - expected) < 1e-3, s"$got vs $expected")
    // SQL registration evaluates identically (interpreted path included)
    graft.functions.GraftFunctions.register(spark)
    val viaSql = Seq(s).toDF("text").selectExpr("graft_entropy(text)")
      .head().getDouble(0)
    assert(viaSql === got)
  }

  test("BigramLm: hand-computed probabilities, unseen fallback, degenerate docs") {
    import spark.implicits._
    // corpus {ab, ac}: P(b|a) = P(c|a) = 1/2 → logp = -1 exactly
    val model = graft.text.BigramLm.fit(
      Seq("ab", "ac").toDF("text"), "text")
    assert(model.vocab === 2)
    def scoreOf(s: String): Double =
      Seq(s).toDF("text")
        .select(graft.text.BigramLm.score(col("text"), model))
        .head().getDouble(0)
    assert(scoreOf("ab") === -1.0)
    assert(scoreOf("ac") === -1.0)
    // unseen bigram takes the fallback log2(1/(V+1)) = log2(1/3),
    // milli-quantized exactly as the model terms are
    val expectedAA =
      math.floor(math.log(1.0 / 3) / math.log(2.0) * 1000.0 + 0.5) / 1000.0
    assert(scoreOf("aa") === expectedAA)
    // fewer than two codepoints → 0.0 by convention; case-folded
    assert(scoreOf("a") === 0.0)
    assert(scoreOf("") === 0.0)
    assert(scoreOf("AB") === -1.0, "scoring must lower-case like training")
    // a perfectly predictable corpus scores 0 everywhere
    val certain = graft.text.BigramLm.fit(Seq("abab").toDF("text"), "text")
    assert(Seq("abab").toDF("text")
      .select(graft.text.BigramLm.score(col("text"), certain))
      .head().getDouble(0) === 0.0)
  }

  test("Bpe: hand-traced merge sequence on the classic corpus") {
    import graft.text.Bpe
    // HF-course corpus: hug x10, pug x5, pun x12, bun x4, hugs x5
    val counts = Seq("hug" -> 10L, "pug" -> 5L, "pun" -> 12L,
      "bun" -> 4L, "hugs" -> 5L)
    val m = Bpe.trainOnCounts(counts, 3)
    // pair mass: (u,g)=20 > (p,u)=17 > (u,n)=16 > (h,u)=15 ...
    // after ug: (u,n)=16 > (h,ug)=15; after un: (h,ug)=15 wins
    assert(m.merges === Seq(("u", "g"), ("u", "n"), ("h", "ug")))
    assert(Bpe.encodeWord(m, "hugs") === Seq("hug", "s"))
    assert(Bpe.encodeWord(m, "bug") === Seq("b", "ug"))
    assert(Bpe.encodeWord(m, "pun") === Seq("p", "un"))
    // unseen word decomposes into learned pieces + single chars
    assert(Bpe.encodeWord(m, "mugging") ===
      Seq("m", "ug", "g", "i", "n", "g"))
    assert(m.vocab.contains("hug") && m.vocab.contains("un"))
  }

  test("Bpe: tie on pair count breaks lexicographically; count-1 pairs never merge") {
    import graft.text.Bpe
    // "ab" and "cd" both occur twice -> ("a","b") < ("c","d") merges first
    val m = Bpe.trainOnCounts(Seq("ab" -> 2L, "cd" -> 2L), 2)
    assert(m.merges === Seq(("a", "b"), ("c", "d")))
    // singleton word: its pairs have count 1 -> no merge learned
    val m1 = Bpe.trainOnCounts(Seq("xyz" -> 1L), 10)
    assert(m1.merges.isEmpty)
    assert(Bpe.encodeWord(m1, "xyz") === Seq("x", "y", "z"))
  }

  test("Bpe: encode round-trips and token totals shrink as merges grow") {
    import graft.text.Bpe
    val docs = graft.util.Tables(spark, sf).documents
    val m0 = Bpe.fit(docs, "text", numMerges = 0)
    val m50 = Bpe.fit(docs, "text", numMerges = 50)
    val m200 = Bpe.fit(docs, "text", numMerges = 200)
    // round-trip: concatenated pieces reproduce the word, for every
    // distinct corpus word of a sample
    val words = docs.select(explode(regexp_extract_all(lower(col("text")),
        lit(TextOps.BpePattern), lit(0))).as("w"))
      .distinct().limit(300).collect().map(_.getString(0))
    words.foreach { w =>
      assert(Bpe.encodeWord(m200, w).mkString === w, s"round-trip of '$w'")
    }
    def total(m: Bpe.Model): Long =
      docs.select(Bpe.tokenCount(col("text"), m).as("n"))
        .agg(sum(col("n"))).collect()(0).getLong(0)
    val (t0, t50, t200) = (total(m0), total(m50), total(m200))
    assert(t0 >= t50 && t50 >= t200,
      s"token totals must be non-increasing in merges: $t0, $t50, $t200")
    assert(t200 < t0, "200 merges must actually compress the corpus")
  }

  test("text_bpe: exact corpus totals pinned (rows-only query, value gate)") {
    // a SQL replay oracle is structurally unavailable: training is an
    // inherently sequential argmax loop (the Lloyd's/Jacobi class), and
    // oracleSql is ONE static string shared by the sf0.01 driver gate
    // and the sf0.1 sweep — embedding one corpus's learned merges would
    // break the other. So the regression gate is these exact totals:
    // deterministic (ordered word cap, lexicographic merge tie-breaks,
    // greedy rank-first encode), re-derive at sf0.001 on INTENTIONAL
    // tokenizer changes.
    import org.apache.spark.sql.functions._
    val out = graft.queries.TextQueries.textBpe(spark, sf)
      .agg(count(lit(1)).as("rows"), sum(col("n_pretok")).as("pre"),
        sum(col("n_bpe_tok")).as("bpe"), sum(col("fertility_x100")).as("fert"))
      .collect()(0)
    assert(out.getLong(0) === 500L)
    assert(out.getLong(1) === 27939L, s"sum n_pretok ${out.getLong(1)}")
    assert(out.getLong(2) === 86851L, s"sum n_bpe_tok ${out.getLong(2)}")
    assert(out.getLong(3) === 155240L, s"sum fertility_x100 ${out.getLong(3)}")
  }

  test("Bpe.loadMerges: hand-traced encodes under the fixture merges; " +
      "merges.txt round-trip; loaded ≡ trained on an identical list; " +
      "text_bpe_apply totals pinned (rows-only query, value gate)") {
    import graft.text.Bpe
    val m = Bpe.loadMergesResource("/graft/bpe/fixture_merges.txt")
    assert(m.merges.size === 48)
    assert(m.merges.take(3) === Seq(("t", "h"), ("i", "n"), ("th", "e")))
    // hand-traced greedy rank-first encodes under the fixture ranks:
    // the: (t,h) r0 → [th,e]; (th,e) r2 → [the]
    assert(Bpe.encodeWord(m, "the") === Seq("the"))
    // hash: (a,s) r23 → [h,as,h]; (h,as) r47 → [has,h]
    assert(Bpe.encodeWord(m, "hash") === Seq("has", "h"))
    // data: (a,t) r9 beats (d,a) r30 and (t,a) r31 → [d,at,a], done
    assert(Bpe.encodeWord(m, "data") === Seq("d", "at", "a"))
    // window: (i,n) r1 beats (w,i) r29 → [w,in,d,o,w]; (w,in) r43
    assert(Bpe.encodeWord(m, "window") === Seq("win", "d", "o", "w"))
    // spark: (a,r) r12 → [s,p,ar,k]; (s,p) r35 → [sp,ar,k]
    assert(Bpe.encodeWord(m, "spark") === Seq("sp", "ar", "k"))
    // unseen characters stay single-codepoint tokens
    assert(Bpe.encodeWord(m, "zq") === Seq("z", "q"))
    // format strictness: a malformed pair line fails loudly
    intercept[IllegalArgumentException] {
      Bpe.loadMerges(Iterator("a b c"))
    }
    // round-trip: render → load reproduces merges and ranks exactly
    val rt = Bpe.loadMerges(Bpe.renderMerges(m).iterator)
    assert(rt.merges === m.merges && rt.ranks === m.ranks)
    // loaded ≡ trained on an identical merge list: a trainer publishes
    // merges.txt, the serving side loads it — every encode agrees
    val trained = Bpe.trainOnCounts(Seq("hug" -> 10L, "pug" -> 5L,
      "pun" -> 12L, "bun" -> 4L, "hugs" -> 5L), 3)
    val loaded = Bpe.loadMerges(Bpe.renderMerges(trained).iterator)
    assert(loaded.merges === trained.merges)
    Seq("hug", "hugs", "pun", "bug", "mugging").foreach { w =>
      assert(Bpe.encodeWord(loaded, w) === Bpe.encodeWord(trained, w))
    }
    // native expression ≡ driver encode under the LOADED model
    val docs = graft.util.Tables(spark, sf).documents
    val sample = docs.select(col("text"),
      Bpe.tokenCount(col("text"), m).as("n")).limit(50).collect()
    val p = java.util.regex.Pattern.compile(TextOps.BpePattern)
    sample.foreach { r =>
      val matcher = p.matcher(
        r.getString(0).toLowerCase(java.util.Locale.ROOT))
      var n = 0
      while (matcher.find()) n += Bpe.encodeWord(m, matcher.group()).size
      assert(r.getInt(1) === n)
    }
    // the production-scale loaded model (r13): 10k synthetic merges in
    // the same interchange format — the size a real deployment loads.
    // Hand-traced under the generated ranks: "the" merges (h,e) r186
    // before (t,h) r501 and "t he" is no merge; "abc" chains
    // (a,b) r1 then the phase-2 "ab c" r2029 to a single token.
    val m10k = Bpe.loadMergesResource("/graft/bpe/synthetic_merges_10k.txt")
    assert(m10k.merges.size === 10000)
    assert(Bpe.encodeWord(m10k, "the") === Seq("t", "he"))
    assert(Bpe.encodeWord(m10k, "abc") === Seq("abc"))
    val rt10k = Bpe.loadMerges(Bpe.renderMerges(m10k).iterator)
    assert(rt10k.ranks === m10k.ranks)
    // the registered face (runs the 10k model): exact totals pinned
    // (the text_bpe gate — deterministic static merges, re-derive on
    // INTENTIONAL fixture changes). n_pretok matches text_bpe's pin:
    // same pretokenization.
    val out = graft.queries.TextQueries.textBpeApply(spark, sf)
      .agg(count(lit(1)).as("rows"), sum(col("n_pretok")).as("pre"),
        sum(col("n_bpe_tok")).as("bpe"),
        sum(col("fertility_x100")).as("fert"))
      .collect()(0)
    assert(out.getLong(0) === 500L)
    assert(out.getLong(1) === 27939L, s"sum n_pretok ${out.getLong(1)}")
    assert(out.getLong(2) === 70891L, s"sum n_bpe_tok ${out.getLong(2)}")
    assert(out.getLong(3) === 126530L, s"sum fertility_x100 ${out.getLong(3)}")
  }

  test("Bpe: native expression equals driver-side encode on real docs") {
    import graft.text.Bpe
    val docs = graft.util.Tables(spark, sf).documents
    val m = Bpe.fit(docs, "text", numMerges = 120)
    val rows = docs.select(col("text"),
        Bpe.tokenCount(col("text"), m).as("n")).limit(50).collect()
    val p = java.util.regex.Pattern.compile(TextOps.BpePattern)
    rows.foreach { r =>
      val matcher = p.matcher(
        r.getString(0).toLowerCase(java.util.Locale.ROOT))
      var n = 0
      while (matcher.find()) n += Bpe.encodeWord(m, matcher.group()).size
      assert(r.getInt(1) === n)
    }
  }

  test("TextRank: hand-computed first round on a 3-node path graph") {
    import spark.implicits._
    import graft.text.TextRank
    // docs "a b", "b c" -> symmetric edges a-b, b-c, all weight 1
    // N=3: r0 = 333333, tp = 50000; W(a)=W(c)=1, W(b)=2
    // round 1: a,c <- 50000 + (85*333333*1) div 200 = 191666
    //          b   <- 50000 + 2 * ((85*333333*1) div 100) = 616666
    val docs = Seq("a b", "b c").toDF("text")
    val r1 = TextRank.ranks(docs, "text", iterations = 1)
      .orderBy("node").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(r1.toSeq === Seq(("a", 191666L), ("b", 616666L),
      ("c", 191666L)))
    // after 10 rounds the hub still dominates and mass stays bounded
    val r10 = TextRank.ranks(docs, "text")
      .orderBy("node").collect().map(r => (r.getString(0), r.getLong(1)))
    val m = r10.toMap
    assert(m("b") > m("a") && m("a") === m("c"))
    assert(r10.map(_._2).sum <= 1000000L,
      "integer flooring can only LOSE mass vs the float fixpoint")
  }

  test("TextRank: isolated words keep teleport-only rank") {
    import spark.implicits._
    import graft.text.TextRank
    // "z" never co-occurs: rank stays exactly tp = 150000 // 3 after
    // every round (no inflow); connected words exceed it
    val docs = Seq("a b a b", "z").toDF("text")
    val out = TextRank.ranks(docs, "text")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out("z") === 150000L / 3)
    assert(out("a") > out("z") && out("b") > out("z"))
  }

  test("text_cooc_pmi: planted collocation outscores an independent pair") {
    import spark.implicits._
    import java.nio.file.Files
    // "alpha beta" perfectly coupled (the collocation); gamma/delta
    // adjacent in only HALF their occurrences — PMI is ratio-scale
    // invariant, so a distractor must be imperfectly coupled, not
    // merely rare, to score lower
    val doc1 = Array.fill(20)("alpha beta gamma delta").mkString(" ")
    val doc2 = Array.fill(20)("alpha beta delta gamma").mkString(" ")
    val dir = Files.createTempDirectory("graft_pmi").toString
    Seq((0L, doc1, "en", "s", doc1.length.toLong),
        (1L, doc2, "en", "s", doc2.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.textCoocPmi(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    assert(out.contains(("alpha", "beta")))
    val ab = out(("alpha", "beta"))
    // every pair alpha participates in is (alpha, beta): PMI near max
    out.filterNot(_._1 == ("alpha", "beta")).values.foreach { other =>
      assert(ab > other,
        s"planted collocation $ab must outscore independents ($other)")
    }
    // PMI of a bigram can never exceed log2 of the unigram count space
    out.values.foreach(p => assert(p <= math.log(1e9) / math.log(2)))
  }

  test("text_nbclassify: hand-computed micro-nat scores on a separable corpus") {
    import spark.implicits._
    import java.nio.file.Files
    // vocab x,y ↔ class a; z,w ↔ class b: V=4, N(a)=5, N(b)=4, priors 2/4
    val docs = Seq((1L, "x x y", "a"), (2L, "x y", "a"),
      (3L, "z z", "b"), (4L, "z w", "b"))
    val dir = Files.createTempDirectory("graft_nb").toString
    docs.map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.textNbclassify(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3)))
      .toMap
    // perfectly separable vocab → perfect classification
    assert(out.map { case (k, v) => k -> v._2 } ===
      Map(1L -> "a", 2L -> "a", 3L -> "b", 4L -> "b"))
    // pin doc 1's winning score exactly: prior + 2·ll(x|a) + 1·ll(y|a)
    def micro(x: Double): Long = math.floor(math.log(x) * 1e6 + 0.5).toLong
    val expected = micro(2.0 / 4.0) +
      2 * micro((3.0 + 1) / (5 + 4).toDouble) +
      1 * micro((2.0 + 1) / (5 + 4).toDouble)
    assert(out(1L)._3 === expected,
      s"score_micro ${out(1L)._3} != hand-computed $expected")
    assert(out(1L)._1 === "a")
  }

  test("text_phrase_search: exact hit counts and 1-based first positions") {
    import spark.implicits._
    import java.nio.file.Files
    val docs = Seq(
      (1L, "big data is big data"),      // hits at pos 1 and 4
      (2L, "the big data stack"),        // hit at pos 2
      (3L, "big apple data big"),        // "big data" never adjacent
      (4L, "data big"))                  // reversed — no hit
    val dir = Files.createTempDirectory("graft_phrase").toString
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.textPhraseSearch(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out === Map(1L -> ((2L, 1)), 2L -> ((1L, 2))))
  }

  test("text_nbclassify: every doc classified exactly once on the corpus") {
    val out = TextQueries.textNbclassify(spark, sf).collect()
    val nDocs = graft.util.Tables(spark, sf).documents.count()
    assert(out.length.toLong === nDocs, "one prediction per doc")
    assert(out.map(_.getLong(0)).distinct.length.toLong === nDocs)
    val langs = graft.util.Tables(spark, sf).documents
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    out.foreach(r => assert(langs.contains(r.getString(2))))
  }

  /** Full driver-side BM25 replay on the real corpus: tokenize with the
    * same rules, evaluate the identical left-associated double tree,
    * quantize per-term to micro-units, and demand the exact top-20
    * (ids, hit counts, AND integer scores) the distributed query
    * returns — a second independent oracle beside the DuckDB one.
    */
  test("text_bm25: exact match vs a driver-side replay on the corpus") {
    val query = Seq("shuffle", "join", "window")
    val docs = graft.util.Tables(spark, sf).documents
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase
        .split("\\s+").filter(_.nonEmpty).toSeq))
    val nDocs = docs.length.toDouble
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / nDocs
    val dfm = query.map(t =>
      t -> docs.count(_._2.contains(t)).toDouble).toMap
    val expected = docs.flatMap { case (id, toks) =>
      val micros = query.flatMap { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) None
        else Some(math.floor(
          math.log((nDocs - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1.0)
            * (tf * 2.2)
            / (tf + 1.2 * (0.25 + 0.75 * toks.length.toDouble / avgdl))
            * 1000000.0 + 0.5).toLong)
      }
      if (micros.isEmpty) None
      else Some((id, micros.length.toLong, micros.sum))
    }.sortBy { case (id, _, m) => (-m, id) }.take(20).toSeq
    val got = TextQueries.textBm25(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    assert(got.nonEmpty && got.head._3 > 0)
  }

  test("text_rrf: fused list equals an exact driver-side RRF replay") {
    import org.apache.spark.sql.functions._
    // sparse ranks straight off the registered BM25 top-20
    val sparse = TextQueries.textBm25(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .sortBy { case (id, m) => (-m, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }
    // dense ranks straight off the exact brute kNN for probe vector 0
    val emb = graft.util.Tables(spark, sf).embeddings
    val dense = graft.sim.Knn.brute(
        emb.filter(col("vec_id") === 0), emb.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", 20).collect()
      .map(r => r.getLong(2) -> r.getInt(1))
    def term(rnk: Int): Long = (2000000L + (60 + rnk)) / (2L * (60 + rnk))
    val fused = (sparse ++ dense).groupBy(_._1)
      .map { case (id, rs) => (id, rs.map(r => term(r._2)).sum, rs.length.toLong) }
      .toSeq.sortBy { case (id, m, _) => (-m, id) }.take(10)
    val got = TextQueries.textRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === fused)
    assert(got.nonEmpty && got.map(_._3).max <= 2L)
  }

  /** Plan shape: the only nested-loop is the broadcast of the 1-row
    * corpus stats; the query-term filter sits below the first exchange
    * (pruning to |query| rows per doc BEFORE any shuffle).
    */
  test("text_bm25: no cartesian; isin filter below the first exchange") {
    val plan = planOf(TextQueries.textBm25(spark, sf))
    assert(!plan.contains("CartesianProduct"))
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nested <= 2) // dfv + 1-row stats ride broadcasts only
    val filtIdx = plan.indexOf("shuffle")  // the literal query term list
    val exchIdx = plan.indexOf("Exchange")
    assert(filtIdx >= 0 && exchIdx >= 0)
  }

  test("text_jsd: a single-source corpus has exactly zero divergence") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsd").toString
    // one source ⇒ P ≡ Q for every word ⇒ every per-word contribution
    // is log2(1) = 0 before quantization — the result must be EXACTLY 0
    (0 until 10).map(i => (s"alpha beta gamma alpha beta", "web"))
      .toDF("text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextQueries.textJsd(spark, dir).collect()
    assert(got.length === 1)
    assert(got(0).getString(0) === "web")
    assert(got(0).getLong(1) === 50L)
    assert(got(0).getDouble(2) === 0.0)
  }

  test("text_jsd: exact match vs a driver-side replay on the corpus") {
    val docs = graft.util.Tables(spark, sf).documents
      .select("source", "text").collect()
      .map(r => (r.getString(0),
        r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq))
    val sw = docs.flatMap { case (src, toks) => toks.map((src, _)) }
      .groupBy(identity).map { case (k, v) => (k, v.length.toLong) }
    val vocab = sw.groupBy(_._1._2).map { case (w, m) => (w, m.values.sum) }
      .filter(_._2 >= 5L)
    val t = vocab.values.sum.toDouble
    def log2(x: Double): Double = math.log(x) / math.log(2.0)
    val expected = docs.map(_._1).distinct.sorted.map { src =>
      // keysIterator, NOT keys.map: mapping a key SET to counts would
      // deduplicate equal counts before the sum
      val ts = vocab.keysIterator.map(w => sw.getOrElse((src, w), 0L)).sum
      val micro = vocab.toSeq.map { case (w, cw) =>
        val c = sw.getOrElse((src, w), 0L)
        val p = c.toDouble / ts.toDouble
        val q = cw.toDouble / t
        val half =
          (if (c > 0) 0.5 * p * log2(2.0 * p / (p + q)) else 0.0) +
            0.5 * q * log2(2.0 * q / (p + q))
        math.floor(half * 1e6 + 0.5).toLong
      }.sum
      (src, ts,
        BigDecimal(micro.toDouble / 1e6)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = TextQueries.textJsd(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === expected)
    assert(got.exists(_._3 > 0.0), "real sources must actually diverge")
  }

  test("text_vocab_coverage: monotone in k, full coverage once k >= vocab, " +
      "top-k rides TakeOrdered (no global-window rank)") {
    val rows = TextQueries.textVocabCoverage(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(10L, 100L, 1000L))
    val covs = rows.map(_.getDouble(4))
    assert(covs.zip(covs.tail).forall { case (a, b) => a <= b })
    val vocab = graft.util.Tables(spark, sf).documents
      .select(explode(graft.text.TextOps.tokens(col("text"))).as("t"))
      .distinct().count()
    rows.foreach { r =>
      assert(r.getLong(1) === math.min(r.getLong(0), vocab))
      if (r.getLong(0) >= vocab) assert(r.getDouble(4) === 1.0)
    }
    val plan = planOf(TextQueries.textVocabCoverage(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1000))
    assert(!plan.contains("Window"), "rank must not plan a global window")
  }

  test("text_compress: driver Deflater replay agrees; repetitive text " +
      "compresses far below natural text") {
    // engine-vs-driver replay on the real corpus (same JVM, same zlib)
    val rows = TextQueries.textCompress(spark, sf).collect()
    assert(rows.length === 500)
    val texts = graft.util.Tables(spark, sf).documents
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(25).foreach { r =>
      val t = texts(r.getLong(0))
      val want = graft.functions.DeflateSize.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
      assert(r.getLong(2) === want, s"doc ${r.getLong(0)}")
      assert(r.getLong(1) === t.getBytes("UTF-8").length.toLong)
    }
    // signal ordering on synthetic extremes
    import spark.implicits._
    def ratioOf(s: String): Double = {
      val out = Seq((1L, s)).toDF("doc_id", "text")
      val tmp = java.nio.file.Files.createTempDirectory("graft_zr").toString
      out.write.parquet(s"$tmp/documents.parquet")
      TextQueries.textCompress(spark, tmp).head().getDouble(3)
    }
    val junk = ratioOf("spam " * 400)
    val natural = ratioOf(texts.values.maxBy(_.length))
    val binary = ratioOf((0 until 2000).map(i =>
      (((i * 2654435761L) >>> 16) % 0x4e00 + 0x3400).toChar).mkString)
    assert(junk < 0.1, s"repeated junk ratio $junk")
    assert(natural > junk && natural < binary,
      s"ordering junk=$junk natural=$natural binary=$binary")
  }

  test("text_dup_grams: hand-computed fixture at every n; corpus dup " +
    "fraction falls as n grows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dupgrams").toString
    Seq((0L, "a b a b", "en", "s", 7L), (1L, "c d", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextQueries.textDupGrams(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // n=1: occ {a,b,a,b,c,d}=6, distinct 4, dup occ 4 → 666666 ppm
    // n=2: occ {ab,ba,ab,cd}=4, distinct 3, dup occ 2 → 500000 ppm
    // n=3: occ {aba,bab}=2, no dups; n=4: occ {abab}=1, no dups
    assert(got.toSeq === Seq(
      (1, 6L, 4L, 666666L), (2, 4L, 3L, 500000L),
      (3, 2L, 2L, 0L), (4, 1L, 1L, 0L)))
    val real = TextQueries.textDupGrams(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(real(1) >= real(4),
      "longer grams cannot duplicate more than unigrams on natural text")
    assert(real.values.forall(p => p >= 0 && p <= 1000000L))
  }

  test("text_lmscore refits after documents.parquet is regenerated in " +
      "place: equals the same face over a dir that only held the new rows") {
    val d = graft.util.Tables(spark, sf).documents
    val dir = graft.util.Staging.dir(spark, "lm_regen")
    val fresh = graft.util.Staging.dir(spark, "lm_fresh")
    d.filter(col("doc_id") % 2 === 0).write.parquet(s"$dir/documents.parquet")
    TextQueries.textLmscore(spark, dir).collect()
    val regen = d.filter(col("doc_id") % 2 === 1)
    regen.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    regen.write.parquet(s"$fresh/documents.parquet")
    assert(TextQueries.textLmscore(spark, dir).collect().toSeq ===
      TextQueries.textLmscore(spark, fresh).collect().toSeq)
  }
}
