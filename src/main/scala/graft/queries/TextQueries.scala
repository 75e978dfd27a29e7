package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.text.TextOps
import graft.util.Tables

/** Text-analysis coverage (SURVEY.md §2.5) over the documents table.
  * Every metric is a per-row Column expression (embarrassingly parallel)
  * or a partial-aggregatable count — nothing here widens a shuffle.
  */
object TextQueries {

  private val toksSql =
    """list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"""

  def textTokens(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).as("n_tokens"),
        size(regexp_extract_all(col("text"), lit("\\w+"), lit(0))).as("n_words"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe"),
        length(col("text")).as("n_chars"))
      .orderBy(col("doc_id"))

  val textTokensSql: String =
    s"""SELECT doc_id,
       |  len($toksSql) AS n_tokens,
       |  len(regexp_extract_all(text, '\\w+')) AS n_words,
       |  len(regexp_extract_all(lower(text), '${TextOps.BpePattern}')) AS n_bpe,
       |  length(text) AS n_chars
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Half-up rounding via floor(x·10⁴+0.5): `round()` disagrees between
    * Spark (BigDecimal HALF_UP on the exact binary value) and DuckDB
    * when a score lands exactly on a half (e.g. 0.48625). Both engines
    * compute bit-identical IEEE doubles for the same op order, so this
    * floor form is deterministic across them.
    */
  private def round4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (floor(c * 10000 + 0.5).cast("double") / 10000).as("r")

  /** Tokenizes ONCE into an attribute-bound column, then derives all
    * four metrics from it: higher-order functions re-evaluate
    * non-attribute argument subtrees per lambda call, so passing the
    * derived `tokens(text)` expression straight into `filter`/
    * `aggregate` re-tokenizes per lambda invocation. (CollapseProject
    * keeps the binding: it never inlines a non-cheap alias consumed
    * more than once.)
    */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    Tables(s, dir).documents
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        round4(TextOps.stopwordRatio(toks)).as("stop_ratio"),
        round4(TextOps.avgTokenLen(toks)).as("avg_tok_len"),
        round4(TextOps.qualityScore(toks)).as("score"))
      .orderBy(col("doc_id"))
  }

  val textQualitySql: String =
    s"""SELECT doc_id, n_tokens,
       |  floor(stop_ratio * 10000 + 0.5) / 10000 AS stop_ratio,
       |  floor(avg_tok_len * 10000 + 0.5) / 10000 AS avg_tok_len,
       |  floor((0.4 * least(n_tokens / 100.0, 1.0)
       |      + 0.3 * (1.0 - stop_ratio)
       |      + 0.3 * least(avg_tok_len / 8.0, 1.0)) * 10000 + 0.5) / 10000 AS score
       |FROM (
       |  SELECT doc_id, len(toks) AS n_tokens,
       |    CASE WHEN len(toks) > 0 THEN
       |      len(list_filter(toks, t -> list_contains(['the','a','of','and','to'], t)))::DOUBLE
       |        / len(toks) ELSE 0.0 END AS stop_ratio,
       |    CASE WHEN len(toks) > 0 THEN
       |      list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks)
       |      ELSE 0.0 END AS avg_tok_len
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents))
       |ORDER BY doc_id""".stripMargin

  /** Confusion matrix of the marker-token language classifier: one row
    * per (actual, predicted) pair. The oracle reruns the identical
    * integer scoring in SQL, so parity is exact regardless of accuracy.
    */
  def textLangid(s: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    Tables(s, dir).documents
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("lang"), TextOps.langPredict(toks).as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val textLangidSql: String = {
    val markers = TextOps.LangMarkers.map { case (lang, ms) =>
      val lst = ms.map(m => s"'$m'").mkString("[", ",", "]")
      s"len(list_filter(toks, x -> list_contains($lst, x))) AS s_$lang"
    }.mkString(",\n  ")
    val langs = TextOps.LangMarkers.map { case (l, _) => s"'$l'" }.mkString(",")
    val scores = TextOps.LangMarkers.map { case (l, _) => s"s_$l" }.mkString(",")
    s"""SELECT lang, pred_lang, count(*) AS n FROM (
       |  SELECT doc_id, lang, pl AS pred_lang FROM (
       |    SELECT doc_id, lang, unnest([$langs]) AS pl, unnest([$scores]) AS s
       |    FROM (SELECT doc_id, lang,
       |      $markers
       |      FROM (SELECT doc_id, lang, $toksSql AS toks FROM documents)))
       |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, pl) = 1)
       |GROUP BY lang, pred_lang
       |ORDER BY lang, pred_lang""".stripMargin
  }

  /** Rolling polynomial hash fingerprint per doc — deterministic, so the
    * oracle replays the identical fold in DuckDB via list_reduce.
    */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val textFingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(0::BIGINT,
      |      [ascii(t[i])::BIGINT FOR i IN range(1, len(t) + 1)]),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
      |FROM (SELECT doc_id,
      |        regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Corpus-wide top word bigrams by document frequency. */
  def textNgrams(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(explode(TextOps.wordNgrams(col("toks"), 2)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram"))
      .limit(30)

  val textNgramsSql: String =
    s"""SELECT gram, count(*) AS df FROM (
       |  SELECT unnest(list_distinct(
       |    [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))])) AS gram
       |  FROM (SELECT $toksSql AS toks FROM documents)
       |  WHERE len(toks) >= 2)
       |GROUP BY gram
       |ORDER BY df DESC, gram
       |LIMIT 30""".stripMargin

  /** Gopher-style repetition metrics per doc: what fraction of the 2-gram
    * occurrence stream is repeats (`dup_frac` = occurrences of grams seen
    * more than once ÷ all occurrences) and how dominant the single most
    * frequent gram is (`top_frac`). High values flag boilerplate /
    * degenerate generations — the classic pre-training repetition filter.
    *
    * One explode + two-level aggregation, keys (doc_id, gram) then
    * doc_id — uniform, fully partial-aggregatable; nothing is held
    * per-doc except the running counts. Docs with fewer than 2 tokens
    * have no 2-grams and are excluded (mirrored in the oracle).
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"),
        explode(TextOps.wordNgramsAll(col("toks"), 2)).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_grams"),
        round4(sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).cast("double")
          / sum(col("cnt")).cast("double")).as("dup_frac"),
        round4(max(col("cnt")).cast("double")
          / sum(col("cnt")).cast("double")).as("top_frac"))
      .orderBy(col("doc_id"))

  val textRepetitionSql: String =
    s"""SELECT doc_id, sum(cnt)::BIGINT AS n_grams,
       |  floor((sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::DOUBLE
       |         / sum(cnt)::DOUBLE) * 10000 + 0.5) / 10000 AS dup_frac,
       |  floor((max(cnt)::DOUBLE / sum(cnt)::DOUBLE) * 10000 + 0.5) / 10000
       |    AS top_frac
       |FROM (
       |  SELECT doc_id, gram, count(*) AS cnt FROM (
       |    SELECT doc_id,
       |      unnest([array_to_string(toks[i:i+1], ' ')
       |              FOR i IN range(1, len(toks))]) AS gram
       |    FROM (SELECT doc_id, $toksSql AS toks FROM documents)
       |    WHERE len(toks) >= 2)
       |  GROUP BY doc_id, gram)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  private val TfidfK = 3

  /** Per-doc top-k terms by tf·idf (idf = ln(N/df)). The tf table feeds
    * BOTH its own per-term document frequency and the scoring join — df
    * is derived from tf (count of docs per term), so the corpus is
    * tokenized once. Shuffles key on term (uniform vocabulary) and
    * doc_id; N rides in as a broadcast 1-row aggregate, never a
    * driver-side action. The rank window has a single window function,
    * so it compiles to WindowGroupLimit: each partition keeps only k
    * rows per doc before the exchange.
    *
    * Ranking compares the ROUNDED score (ties → term asc): both engines
    * rank on identical 4-decimal values, so rank order can't diverge on
    * a last-ulp difference deep in `ln`.
    */
  /** Multinomial Naive Bayes classifier, trained AND scored in one
    * Catalyst tree — the fastText/CCNet-style "cheap supervised filter"
    * a curation pipeline trains on weak labels (here: the corpus's own
    * lang tags, argmax-ed back over every doc, knn_classify-style).
    * Laplace-smoothed: score(d,ℓ) = ln P(ℓ) + Σ_t tf·ln((c(t,ℓ)+1)/(N(ℓ)+V)).
    *
    * Cross-engine parity is engineered the CharEntropy way: every
    * per-term log-likelihood and the prior are quantized to integer
    * MICRO-NATS (⌊ln(x)·10⁶+0.5⌋) before summation, so the score is
    * exact integer arithmetic — independent of aggregation order in
    * both engines, and the argmax can never flip on a last-ulp float
    * difference. The model "state" is relational (the (term, lang)
    * count table), so training is two partial-aggregatable groupBys —
    * no driver-held weights, no iterations; at 100 TB the only wide
    * ops are vocab-scale shuffles and the per-doc score rollup, and
    * the |langs|-row stats table rides a broadcast.
    *
    * Round 9: V and N used to be DRIVER-SIDE COUNTS at plan-build time
    * — each one a full re-run of the tokenize→tf derivation, with
    * tf/ct then consumed again in the final job (the corpus tokenized
    * ~4× per run — two extra full jobs at 100 TB). Now both ride
    * IN-PLAN one-row aggregates folded into the broadcast priors table
    * (the tfidf_topterms move), and tf/ct are localCheckpoint-ed so
    * train + score really is ONE tokenize pass.
    */
  def textNbclassify(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
      .select(col("doc_id"), col("lang"), col("text"))
    val tok = docs.withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), col("lang").as("dlang"),
        explode(col("toks")).as("term"))
    // tokenize ONCE: tf carries the true label; ct/class totals derive.
    // localCheckpoint pins the tokenized aggregate — its downstream
    // consumers shuffle the checkpoint, never re-run the tokenizer
    val tf = tok.groupBy(col("doc_id"), col("dlang"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val ct = tf.groupBy(col("term"), col("dlang"))
      .agg(sum(col("tf")).as("c"))
      .select(col("term"), col("dlang").as("lang"), col("c"))
      .localCheckpoint() // vocab-scale; feeds classTotals, V and the join
    val classTotals = ct.groupBy(col("lang")).agg(sum(col("c")).as("nl"))
    // V and N as ONE-ROW aggregates INSIDE the plan — never a
    // driver-side action; they reach every row via the broadcast priors
    val vocabDf = ct.agg(countDistinct(col("term")).as("vocab_v"))
    val nDocsDf = docs.agg(count(lit(1)).as("n_docs"))
    val priors = docs.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
      .join(classTotals, "lang")
      .crossJoin(nDocsDf) // 1-row × |langs|-row: broadcast, never wide
      .crossJoin(vocabDf)
      .select(col("lang"), col("nl"), col("vocab_v"),
        floor(log(col("nd").cast("double") / col("n_docs").cast("double")) *
          lit(1000000.0) + lit(0.5)).as("prior_micro"))
    val perLang = tf.select(col("doc_id"), col("term"), col("tf"))
      .crossJoin(broadcast(
        priors.select(col("lang"), col("nl"), col("vocab_v"))))
      .join(ct, Seq("term", "lang"), "left")
      .select(col("doc_id"), col("lang"),
        (col("tf") * floor(log(
          (coalesce(col("c"), lit(0L)) + 1).cast("double") /
            (col("nl") + col("vocab_v")).cast("double")) *
          lit(1000000.0) + lit(0.5))).as("ll"))
      .groupBy(col("doc_id"), col("lang")).agg(sum(col("ll")).as("tok_micro"))
    val scored = docs.select(col("doc_id"), col("lang").as("true_lang"))
      .crossJoin(broadcast(priors.select(col("lang"), col("prior_micro"))))
      .join(perLang, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("true_lang"), col("lang"),
        (col("prior_micro") + coalesce(col("tok_micro"), lit(0L)))
          .as("score_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("lang"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("true_lang"), col("lang").as("pred_lang"),
        col("score_micro"))
      .orderBy(col("doc_id"))
  }

  val textNbclassifySql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang AS dlang, unnest(toks) AS term
       |  FROM (SELECT doc_id, lang, $toksSql AS toks FROM documents)),
       |tf AS (SELECT doc_id, dlang, term, count(*) AS tf
       |       FROM tok GROUP BY doc_id, dlang, term),
       |ct AS (SELECT term, dlang AS lang, CAST(sum(tf) AS BIGINT) AS c
       |       FROM tf GROUP BY term, dlang),
       |cls AS (SELECT lang, CAST(sum(c) AS BIGINT) AS nl FROM ct GROUP BY lang),
       |v AS (SELECT count(DISTINCT term) AS v FROM ct),
       |nd AS (SELECT count(*) AS nd FROM documents),
       |pri AS (
       |  SELECT d.lang, cls.nl,
       |    floor(ln(count(*)::DOUBLE / (SELECT nd FROM nd)::DOUBLE)
       |          * 1000000.0 + 0.5)::BIGINT AS prior_micro
       |  FROM documents d JOIN cls ON cls.lang = d.lang
       |  GROUP BY d.lang, cls.nl),
       |ll AS (
       |  SELECT tf.doc_id, p.lang,
       |    CAST(sum(tf.tf * floor(ln((coalesce(ct.c, 0) + 1)::DOUBLE /
       |        (p.nl + (SELECT v FROM v))::DOUBLE)
       |        * 1000000.0 + 0.5)::BIGINT) AS BIGINT) AS tok_micro
       |  FROM tf CROSS JOIN pri p
       |  LEFT JOIN ct ON ct.term = tf.term AND ct.lang = p.lang
       |  GROUP BY tf.doc_id, p.lang),
       |sc AS (
       |  SELECT d.doc_id, d.lang AS true_lang, p.lang,
       |    p.prior_micro + coalesce(ll.tok_micro, 0) AS score_micro
       |  FROM documents d CROSS JOIN pri p
       |  LEFT JOIN ll ON ll.doc_id = d.doc_id AND ll.lang = p.lang)
       |SELECT doc_id, true_lang, pred_lang, score_micro FROM (
       |  SELECT doc_id, true_lang, lang AS pred_lang, score_micro,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score_micro DESC, lang) AS rn
       |  FROM sc)
       |WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  /** Positional-inverted-index phrase search — the "find every doc
    * containing this exact phrase" primitive (benchmark decontamination
    * by phrase, quote tracing, boilerplate hunting) done the index way:
    * posexplode to (doc_id, pos, term) postings, filter each phrase
    * word to its own tiny postings list BEFORE the join (predicate
    * pushdown leaves the corpus scan with one highly-selective filter
    * each), then adjacency is ONE equi-join on (doc_id, pos+1). No
    * LIKE '%...%' scan, no per-doc regex — at 100 TB the joined sides
    * are phrase-frequency-sized, not corpus-sized.
    */
  private val PhraseW1 = "big"
  private val PhraseW2 = "data"

  def textPhraseSearch(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables(s, dir).documents
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "term")))
    val a = tok.filter(col("term") === PhraseW1)
      .select(col("doc_id"), (col("pos") + 1).as("p1")) // 1-based
    val b = tok.filter(col("term") === PhraseW2)
      .select(col("doc_id").as("doc_b"), (col("pos") + 1).as("p2"))
    a.join(b, col("doc_b") === col("doc_id") && col("p2") === col("p1") + 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("p1")).as("first_pos"))
      .orderBy(col("doc_id"))
  }

  val textPhraseSearchSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(toks) AS term,
       |    generate_subscripts(toks, 1) AS pos
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
       |a AS (SELECT doc_id, pos AS p1 FROM tok WHERE term = '$PhraseW1'),
       |b AS (SELECT doc_id, pos AS p2 FROM tok WHERE term = '$PhraseW2')
       |SELECT a.doc_id, count(*) AS n_hits, min(a.p1) AS first_pos
       |FROM a JOIN b ON b.doc_id = a.doc_id AND b.p2 = a.p1 + 1
       |GROUP BY a.doc_id
       |ORDER BY a.doc_id""".stripMargin

  /** Flesch-style readability score — the classic document-quality
    * signal (reading-ease filters sit beside entropy/repetition in
    * curation stacks): 206.835 − 1.015·(words∕sentences) −
    * 84.6·(syllable-groups∕words). All three inputs are integer regexp
    * counts (words = \\w+ runs, sentences = [.!?] runs floored at 1,
    * syllable groups = vowel runs — the standard heuristic), so both
    * engines compute the identical rational before one float combine,
    * rounded to 4. Map-side only; no shuffle at all.
    */
  def textReadability(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\w+"), lit(0))).as("n_words"),
        greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
          lit(1)).as("n_sentences"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
          .as("n_syllables"))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") /
            col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double") /
            col("n_words").cast("double")), 4).as("flesch"))
      .orderBy(col("doc_id"))

  val textReadabilitySql: String =
    """SELECT doc_id, n_words, n_sentences, n_syllables,
      |  round(206.835 - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
      |        - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE), 4) AS flesch
      |FROM (
      |  SELECT doc_id,
      |    len(regexp_extract_all(text, '\w+')) AS n_words,
      |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
      |  FROM documents)
      |WHERE n_words > 0
      |ORDER BY doc_id""".stripMargin

  def tfidfTopterms(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val tf = docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfTbl = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfTbl, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round4(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
          .as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfK)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val tfidfToptermsSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(toks) AS term
       |    FROM (SELECT doc_id, $toksSql AS toks FROM documents))
       |  GROUP BY doc_id, term),
       |dfv AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |sc AS (
       |  SELECT doc_id, term,
       |    floor((tf::DOUBLE * ln(n_docs::DOUBLE / df::DOUBLE)) * 10000 + 0.5)
       |      / 10000 AS score
       |  FROM tf JOIN dfv USING (term) CROSS JOIN n)
       |SELECT doc_id, rank, term, score FROM (
       |  SELECT doc_id, term, score,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, term) AS rank
       |  FROM sc)
       |WHERE rank <= $TfidfK
       |ORDER BY doc_id, rank""".stripMargin

  /** Canonicalization pass (NFC + casefold + whitespace collapse) every
    * key-producing operator should sit behind: per-doc md5 + length of
    * the canonical text. The corpus is ASCII (NFC = identity there), so
    * the oracle pins the lower/trim/collapse pipeline and the md5
    * framing; the actual composed-vs-decomposed behavior is spec-gated
    * with real accents in FunctionsSpec.
    */
  def textNormalize(s: SparkSession, dir: String): DataFrame = {
    val norm = TextOps.normalized(col("text"))
    Tables(s, dir).documents
      .select(col("doc_id"), md5(norm).as("norm_sig"),
        length(norm).as("norm_len"))
      .orderBy(col("doc_id"))
  }

  val textNormalizeSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(trim(nfc_normalize(lower(text))), '\s+', ' ', 'g'))
      |    AS norm_sig,
      |  length(regexp_replace(trim(nfc_normalize(lower(text))), '\s+', ' ', 'g'))
      |    AS norm_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  private val ChunkTokens = 30
  private val ChunkStride = 20

  /** Overlapping chunking for the embedding pipeline: 30-token windows,
    * stride 20 (10-token overlap). One row per chunk with its token
    * count and content md5 — the frame a downstream encoder consumes.
    * The oracle replays the same window arithmetic in DuckDB, pinning
    * coverage (last chunk reaches the end) and overlap.
    */
  def textChunk(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    Tables(s, dir).documents
      .where(size(toks) >= 1)
      .select(col("doc_id"),
        posexplode(TextOps.chunked(toks, ChunkTokens, ChunkStride))
          .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(split(col("chunk"), " ")).cast("long").as("n_toks"),
        md5(col("chunk")).as("sig"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val textChunkSql: String = {
    val (c, st) = (ChunkTokens, ChunkStride)
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |                x -> x <> '') AS toks
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, toks,
       |    1 + greatest(0, (len(toks) - $c + $st - 1) // $st) AS n_chunks
       |  FROM t WHERE len(toks) >= 1),
       |e AS (
       |  SELECT doc_id,
       |    unnest(range(n_chunks)) AS chunk_id,
       |    unnest([array_to_string(toks[1 + i * $st : i * $st + $c], ' ')
       |            FOR i IN range(n_chunks)]) AS chunk
       |  FROM n)
       |SELECT doc_id, chunk_id,
       |  len(string_split(chunk, ' ')) AS n_toks,
       |  md5(chunk) AS sig
       |FROM e
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** Per-doc character entropy (bits/char) — the low-quality-text
    * signal (spam/binary ≈ 0–2, natural language ≈ 4+). One native
    * map-side pass per row ([[TextOps.charEntropy]]); the milli-bit
    * quantization inside the expression makes the double exact across
    * engines, so the final floor-round is pure formatting.
    */
  def textEntropy(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"),
        length(col("text")).as("n_chars"),
        (floor(TextOps.charEntropy(col("text")) * 10000 + 0.5)
          .cast("double") / 10000).as("entropy"))
      .orderBy(col("doc_id"))

  val textEntropySql: String =
    """WITH e AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS ch
      |  FROM documents WHERE length(text) > 0),
      |c AS (
      |  SELECT doc_id, ch, count(*) AS cnt FROM e GROUP BY doc_id, ch),
      |nn AS (SELECT doc_id, sum(cnt) AS n FROM c GROUP BY doc_id),
      |t AS (
      |  SELECT c.doc_id,
      |    floor(cnt * log2(nn.n / cnt::DOUBLE) * 1000.0 + 0.5)::BIGINT
      |      AS milli
      |  FROM c JOIN nn USING (doc_id)),
      |h AS (
      |  SELECT t.doc_id,
      |    sum(t.milli)::DOUBLE / (max(nn.n) * 1000.0) AS ent
      |  FROM t JOIN nn USING (doc_id) GROUP BY t.doc_id)
      |SELECT d.doc_id, length(d.text) AS n_chars,
      |  floor(coalesce(h.ent, 0.0) * 10000 + 0.5) / 10000 AS entropy
      |FROM documents d LEFT JOIN h USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  private val lmFit = new graft.util.FitOnce[graft.text.BigramLm.Model]

  /** The corpus-trained bigram LM ([[graft.util.FitOnce]]), shared with
    * the curation-side consumers (mix_perplexity_band prunes on the
    * same score text_lmscore reports — one model, one definition).
    */
  private[queries] def lmModel(s: SparkSession,
      dir: String): graft.text.BigramLm.Model =
    lmFit(s, dir, "documents")(
      graft.text.BigramLm.fit(Tables(s, dir).documents, "text"))

  /** Statistical-LM quality score (the CCNet perplexity-filter shape):
    * mean char-bigram log2-probability of each doc under the model
    * trained on THIS corpus — spam/binary/repetitive text scores far
    * from the corpus mode. Train = one distributed count pass (model
    * is KB driver state, memoized); score = one native map pass
    * (graft.functions.BigramLogProb). The milli-bit quantization
    * inside the expression gives it an exact DuckDB twin.
    */
  def textLmscore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val model = lmModel(s, dir)
    docs.select(col("doc_id"),
        (floor(graft.text.BigramLm.score(col("text"), model) * 10000 + 0.5)
          .cast("double") / 10000).as("lm_score"))
      .orderBy(col("doc_id"))
  }

  val textLmscoreSql: String =
    """WITH ch AS (
      |  SELECT doc_id, string_split(lower(text), '') AS a FROM documents),
      |occ AS (
      |  SELECT doc_id,
      |    unnest([a[i] || a[i + 1] FOR i IN range(1, len(a))]) AS g
      |  FROM ch WHERE len(a) >= 2),
      |model AS (SELECT g, count(*) AS cg FROM occ GROUP BY g),
      |pref AS (
      |  SELECT substr(g, 1, 1) AS c1, sum(cg) AS cp
      |  FROM model GROUP BY c1),
      |dtab AS (SELECT doc_id, g, count(*) AS cd FROM occ GROUP BY doc_id, g),
      |terms AS (
      |  SELECT d.doc_id,
      |    floor(d.cd * log2(m.cg::DOUBLE / p.cp) * 1000.0 + 0.5)::BIGINT
      |      AS milli,
      |    d.cd
      |  FROM dtab d
      |  JOIN model m USING (g)
      |  JOIN pref p ON substr(d.g, 1, 1) = p.c1),
      |h AS (
      |  SELECT doc_id, sum(milli)::DOUBLE / (sum(cd) * 1000.0) AS score
      |  FROM terms GROUP BY doc_id)
      |SELECT d.doc_id,
      |  floor(coalesce(h.score, 0.0) * 10000 + 0.5) / 10000 AS lm_score
      |FROM documents d LEFT JOIN h USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  private val bpeFit = new graft.util.FitOnce[graft.text.Bpe.Model]

  /** Token accounting under a REAL trained tokenizer: fit BPE on this
    * corpus (one distributed word-count pass + driver merge loop,
    * graft.text.Bpe), then count each doc's BPE tokens with the native
    * one-pass expression. `fertility_x100` (BPE tokens per pretoken
    * word, integer per-cents) is the quality signal: noise/rare-script
    * docs shatter into many pieces per word. No SQL twin — the merge
    * loop is inherently iterative — so the row is declared rows-only;
    * TextSpec pins the hand-traced merge sequence, encode round-trip,
    * merge-count monotonicity and expression↔driver parity.
    */
  /** Merge budget for the registered query: the synthetic corpus has a
    * ~31-word vocabulary that ~110 merges merge COMPLETELY (every word
    * → 1 token, fertility pinned at 100 — a constant column proves
    * nothing). 24 merges sits below saturation: Zipf-head words are
    * single tokens, tail words still split, so per-doc fertility
    * discriminates by word mix. A production corpus takes the library
    * default (and real vocab sizes never saturate).
    */
  private val BpeQueryMerges = 24

  def textBpe(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val model = bpeFit(s, dir, "documents")(
      graft.text.Bpe.fit(docs, "text", numMerges = BpeQueryMerges))
    docs.select(col("doc_id"),
        TextOps.bpeTokenCount(col("text")).as("n_pretok"),
        graft.text.Bpe.tokenCount(col("text"), model).as("n_bpe_tok"))
      .withColumn("fertility_x100",
        when(col("n_pretok") > 0,
          floor(col("n_bpe_tok") * lit(100L) / col("n_pretok")))
          .otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  /** The repo-shipped pretrained tokenizer at PRODUCTION VOCAB SCALE
    * (public merges.txt format, loaded once — a static model, no
    * per-corpus state): 10,000 synthetic merges (the real-tokenizer
    * ballpark — GPT-2 ships 50k), built letter-pair-first so every
    * merge's operands exist when it applies. Stand-in for the
    * production artifact (a real deployment points loadMergesResource /
    * loadMerges at its model's published merges file). The model rides
    * the plan as ONE reference object (BpeTokenCount.addReferenceObj —
    * never inlined into generated code or plan strings, toString
    * prints `model[N merges]`), so vocab size cannot bloat the plan;
    * the 48-merge hand-traceable fixture stays at
    * `/graft/bpe/fixture_merges.txt` for TextSpec's exact-trace gates.
    */
  private lazy val PretrainedBpe: graft.text.Bpe.Model =
    graft.text.Bpe.loadMergesResource("/graft/bpe/synthetic_merges_10k.txt")

  /** Token accounting under a FIXED pretrained tokenizer — the
    * production budget path: text_bpe prices the corpus under a
    * tokenizer trained ON that corpus (the right tool for tokenizer
    * R&D), but real token budgets, packing plans, and mix weights are
    * denominated in the TARGET MODEL's tokenizer, which is fixed long
    * before the corpus arrives. This face loads the public merges.txt
    * interchange format ([[graft.text.Bpe.loadMerges]]) and reports
    * per-doc pretoken count, BPE token count, and integer fertility
    * under the LOADED merges, through the same native one-pass
    * expression the trained path uses (map-only, zero shuffle before
    * the result ORDER BY). No SQL twin — BPE encoding is inherently
    * iterative per word — so the row is declared rows-only; TextSpec
    * pins hand-traced encodes under the fixture merges, the merges.txt
    * round-trip, and loaded-vs-trained parity on an identical merge
    * list.
    */
  def textBpeApply(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"),
        TextOps.bpeTokenCount(col("text")).as("n_pretok"),
        graft.text.Bpe.tokenCount(col("text"), PretrainedBpe)
          .as("n_bpe_tok"))
      .withColumn("fertility_x100",
        when(col("n_pretok") > 0,
          floor(col("n_bpe_tok") * lit(100L) / col("n_pretok")))
          .otherwise(lit(0L)))
      .orderBy(col("doc_id"))

  /** TextRank keyword ranks over the corpus word graph
    * ([[graft.text.TextRank]]): integer-arithmetic PageRank, so the
    * 10-round trajectory is exact and the DuckDB twin (the same rounds
    * UNROLLED as chained CTEs — recursive CTEs can't aggregate) hashes
    * identically.
    */
  def textPagerank(s: SparkSession, dir: String): DataFrame =
    graft.text.TextRank.ranks(Tables(s, dir).documents, "text")
      .orderBy(col("node"))

  val textPagerankSql: String = {
    val rounds = (1 to graft.text.TextRank.Iterations).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    (SELECT 150000 // count(*) FROM nodes)
         |      + coalesce(sum((85 * r.rank * e.w) // (100 * wo.wout)), 0)
         |        ::BIGINT AS rank
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN r${i - 1} r ON r.node = e.src
         |  LEFT JOIN wout wo ON wo.src = e.src
         |  GROUP BY n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT regexp_extract_all(lower(text),
       |    '${graft.text.TextOps.BpePattern}') AS a
       |  FROM documents),
       |occ AS (
       |  SELECT string_split(p, ' ')[1] AS s, string_split(p, ' ')[2] AS d
       |  FROM (
       |    SELECT unnest([a[i] || ' ' || a[i + 1]
       |                   FOR i IN range(1, len(a))]) AS p
       |    FROM toks WHERE len(a) >= 2)
       |  WHERE string_split(p, ' ')[1] <> string_split(p, ' ')[2]),
       |edges AS (
       |  SELECT src, dst, count(*) AS w FROM (
       |    SELECT s AS src, d AS dst FROM occ
       |    UNION ALL
       |    SELECT d AS src, s AS dst FROM occ)
       |  GROUP BY src, dst),
       |wout AS (SELECT src, sum(w)::BIGINT AS wout FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT unnest(a) AS node FROM toks),
       |r0 AS (
       |  SELECT node, (SELECT 1000000 // count(*) FROM nodes)::BIGINT AS rank
       |  FROM nodes),
       |$rounds
       |SELECT node, rank AS rank_x6
       |FROM r${graft.text.TextRank.Iterations}
       |ORDER BY node""".stripMargin
  }

  /** Minimum pair count for a reported collocation (standard practice:
    * PMI on rare pairs is noise — a count-1 pair of two rare words
    * maxes the score).
    */
  private val PmiMinPairCount = 5

  /** Collocation extraction by pointwise mutual information over
    * adjacent-word pairs: PMI(a,b) = log2(p(ab) ∕ p(a)p(b)) with
    * p(ab) from the ordered-bigram stream and p(·) from the unigram
    * stream — the classic corpus-linguistics signal for multiword
    * expressions ("new york" scores high, "of the" scores ~0).
    * Two partial-aggregatable counts (unigrams, bigrams) + a pair →
    * unigram join on each side (both joinable against broadcastable
    * vocab-sized frames at production vocab counts); all probabilities
    * derive from exact integer counts, so the only float op is one
    * log2 of a rational — floor-form rounded identically in both
    * engines.
    */
  def textCoocPmi(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    // the unigram and bigram count tables are both vocab-scale partial
    // aggregates consumed by THREE plan subtrees each (scalar total,
    // join side(s)) — materialize the narrow tables once instead of
    // re-tokenizing the corpus per consumer (the narrow-index lesson);
    // eager result checkpoint below frees them before returning
    val toks = docs.select(
      regexp_extract_all(lower(col("text")),
        lit(TextOps.BpePattern), lit(0)).as("a"))
      .localCheckpoint(false)
    val uni = toks.select(explode(col("a")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("nw"))
      .localCheckpoint(false)
    // bind the shifted slice to its own attribute BEFORE the zip_with
    // consumes it (the r1 HOF lesson, SURVEY §8): the generator's
    // arguments are then plain attributes and the slice lives in the
    // Generate node's child projection, outside any HOF subtree
    val pairs = toks
      .select(col("a"),
        slice(col("a"), lit(2), greatest(size(col("a")) - 1, lit(0)))
          .as("a2"))
      .select(explode(zip_with(col("a"), col("a2"),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w2").isNotNull)
    val big = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("nab"))
      .localCheckpoint(false)
    try {
      val nTok = uni.agg(sum(col("nw"))).collect()(0).getLong(0)
      val nBig = big.agg(sum(col("nab"))).collect()(0).getLong(0)
      big.filter(col("nab") >= PmiMinPairCount)
        .join(uni.select(col("w").as("w1"), col("nw").as("n1")), "w1")
        .join(uni.select(col("w").as("w2"), col("nw").as("n2")), "w2")
        .select(col("w1"), col("w2"), col("nab"),
          // the ratio is computed in DOUBLE end-to-end (matching the
          // oracle's n.nbig::DOUBLE * u1.nw * u2.nw): the integer form
          // nBig*n1*n2 is a BIGINT³ product that overflows (ANSI
          // ARITHMETIC_OVERFLOW) once the corpus is large enough
          (floor(log2(col("nab").cast("double")
            * lit(nTok.toDouble) * lit(nTok.toDouble)
            / (lit(nBig.toDouble) * col("n1").cast("double")
              * col("n2").cast("double"))) * 10000 + 0.5)
            .cast("double") / 10000).as("pmi"))
        .orderBy(col("w1"), col("w2"))
        .localCheckpoint(true)
    } finally {
      graft.util.Caches.release(toks)
      graft.util.Caches.release(uni)
      graft.util.Caches.release(big)
    }
  }

  val textCoocPmiSql: String =
    s"""WITH toks AS (
       |  SELECT regexp_extract_all(lower(text),
       |    '${TextOps.BpePattern}') AS a
       |  FROM documents),
       |uni AS (
       |  SELECT w, count(*) AS nw FROM (
       |    SELECT unnest(a) AS w FROM toks) GROUP BY w),
       |pairs AS (
       |  SELECT string_split(p, ' ')[1] AS w1, string_split(p, ' ')[2] AS w2
       |  FROM (
       |    SELECT unnest([a[i] || ' ' || a[i + 1]
       |                   FOR i IN range(1, len(a))]) AS p
       |    FROM toks WHERE len(a) >= 2)),
       |big AS (
       |  SELECT w1, w2, count(*) AS nab FROM pairs GROUP BY w1, w2),
       |n AS (
       |  SELECT (SELECT sum(nw) FROM uni)::BIGINT AS ntok,
       |         (SELECT sum(nab) FROM big)::BIGINT AS nbig)
       |SELECT b.w1, b.w2, b.nab,
       |  floor(log2(b.nab::DOUBLE * n.ntok * n.ntok
       |             / (n.nbig::DOUBLE * u1.nw * u2.nw)) * 10000 + 0.5)
       |    / 10000 AS pmi
       |FROM big b
       |CROSS JOIN n
       |JOIN uni u1 ON u1.w = b.w1
       |JOIN uni u2 ON u2.w = b.w2
       |WHERE b.nab >= $PmiMinPairCount
       |ORDER BY w1, w2""".stripMargin

  /** BM25 lexical retrieval (Robertson k1=1.2, b=0.75, the "+1" idf):
    * top-20 documents for a fixed 3-term query — the sparse half of the
    * retrieval stack beside the dense kNN family (knn_brute/hamming),
    * and the scoring shape behind every "filter the corpus by relevance
    * to a probe set" curation step.
    *
    * Scale: the explode is map-side and the `isin(query)` filter prunes
    * BEFORE the only (doc_id, dl, term) shuffle, so the aggregated state
    * is ≤|query| rows per MATCHING doc — never the corpus posting list.
    * The per-term df table and the 1-row (N, Σdl) corpus stats ride
    * broadcasts; the final top-20 is a TakeOrdered, no global sort.
    * Corpus stats come from a second map-side tokenize pass (two scans
    * of `text`) rather than de-exploding the token stream — a distinct
    * over (doc_id, dl) would shuffle every doc_id, strictly worse.
    *
    * Cross-engine parity is the nbclassify move: each (doc, term)
    * partial score is quantized to integer micro-units
    * (⌊score·10⁶+0.5⌋) before the per-doc sum, so the total is exact
    * integer arithmetic — aggregation-order independent in both engines
    * — and the top-20 cut (score desc, doc_id asc) can't flip on a
    * last-ulp `ln` difference. Both engines evaluate the identical
    * left-associated double expression tree on exact integer inputs.
    */
  private val Bm25Query = Seq("shuffle", "join", "window")
  private val Bm25K = 20

  def textBm25(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
    val tok = docs.withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
    val tf = tok.filter(col("term").isin(Bm25Query: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfTbl = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs
      .select(size(TextOps.tokens(col("text"))).as("dl0"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl0")).as("sum_dl"))
    tf.join(broadcast(dfTbl), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(
          log((col("n_docs").cast("double") - col("df").cast("double")
                + lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0))
            * (col("tf").cast("double") * lit(2.2))
            / (col("tf").cast("double") + lit(1.2) *
                (lit(0.25) + lit(0.75) * col("dl").cast("double") /
                  (col("sum_dl").cast("double") / col("n_docs").cast("double"))))
            * lit(1000000.0) + lit(0.5)).as("micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), sum(col("micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(Bm25K)
  }

  val textBm25Sql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf FROM tok
       |  WHERE term IN (${Bm25Query.map(t => s"'$t'").mkString(",")})
       |  GROUP BY doc_id, dl, term),
       |dfv AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |st AS (SELECT count(*) AS n_docs,
       |              CAST(sum(len($toksSql)) AS BIGINT) AS sum_dl
       |       FROM documents),
       |sc AS (
       |  SELECT doc_id,
       |    CAST(floor(
       |      ln((n_docs::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5) + 1.0)
       |      * (tf::DOUBLE * 2.2)
       |      / (tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE
       |           / (sum_dl::DOUBLE / n_docs::DOUBLE)))
       |      * 1000000.0 + 0.5) AS BIGINT) AS micro
       |  FROM tf JOIN dfv USING (term) CROSS JOIN st)
       |SELECT doc_id, count(*) AS n_hits,
       |       CAST(sum(micro) AS BIGINT) AS score_micro
       |FROM sc GROUP BY doc_id
       |ORDER BY score_micro DESC, doc_id
       |LIMIT $Bm25K""".stripMargin

  /** Reciprocal-rank fusion (Cormack–Clarke–Buettcher SIGIR'09, the
    * k=60 form) — the capstone of the retrieval stack: the sparse BM25
    * top-20 (text_bm25's exact ranking) and the dense cosine top-20
    * (Knn.brute against probe vector 0) merge by
    * Σ 1∕(60 + rank), which rewards appearing in BOTH lists without
    * comparing incomparable scores. Each reciprocal is computed as
    * round-half-up integer micro-units via pure INTEGER division —
    * (2·10⁶ + d) div 2d for d = 60 + rank — so the fused score is
    * exact integer arithmetic in both engines; no float enters after
    * the two upstream rankings.
    *
    * Scale: both inputs are already top-k cuts (≤ 20 rows each), so
    * everything after them — including the single-partition rank
    * window over the 20-row BM25 result — is constant-size work; the
    * heavy lifting lives in the upstream queries whose scale stories
    * are their own (BM25 prunes before its only shuffle; dense top-k
    * is the knn family's TakeOrdered/blocked paths).
    */
  private val RrfTopOut = 10

  def textRrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sparse = textBm25(s, dir)
      .select(col("doc_id").as("id"),
        row_number().over(
          Window.orderBy(col("score_micro").desc, col("doc_id"))).as("rnk"))
    val emb = Tables(s, dir).embeddings
    val dense = graft.sim.Knn.brute(
        emb.filter(col("vec_id") === 0), emb.filter(col("vec_id") =!= 0),
        "vec_id", "embedding", Bm25K)
      .select(col("neighbor_id").as("id"), col("rank").as("rnk"))
    sparse.unionByName(dense)
      .select(col("id"),
        expr("(2000000 + (60 + rnk)) div (2 * (60 + rnk))").as("term"))
      .groupBy(col("id"))
      .agg(sum(col("term")).as("rrf_micro"), count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_micro").desc, col("id"))
      .limit(RrfTopOut)
  }

  val textRrfSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
       |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf FROM tok
       |  WHERE term IN (${Bm25Query.map(t => s"'$t'").mkString(",")})
       |  GROUP BY doc_id, dl, term),
       |dfv AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |st AS (SELECT count(*) AS n_docs,
       |              CAST(sum(len($toksSql)) AS BIGINT) AS sum_dl
       |       FROM documents),
       |sc AS (
       |  SELECT doc_id,
       |    CAST(floor(
       |      ln((n_docs::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5) + 1.0)
       |      * (tf::DOUBLE * 2.2)
       |      / (tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE
       |           / (sum_dl::DOUBLE / n_docs::DOUBLE)))
       |      * 1000000.0 + 0.5) AS BIGINT) AS micro
       |  FROM tf JOIN dfv USING (term) CROSS JOIN st),
       |bm AS (SELECT doc_id, CAST(sum(micro) AS BIGINT) AS score_micro
       |       FROM sc GROUP BY doc_id),
       |sparse AS (
       |  SELECT id, rnk FROM (
       |    SELECT doc_id AS id,
       |      row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rnk
       |    FROM bm)
       |  WHERE rnk <= $Bm25K),
       |nv AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |p AS (
       |  SELECT c.vec_id AS id,
       |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
       |            i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) /
       |          (q.nrm * c.nrm), 6) AS cos
       |  FROM nv q, nv c
       |  WHERE q.vec_id = 0 AND c.vec_id <> 0),
       |dense AS (
       |  SELECT id, rnk FROM (
       |    SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS rnk FROM p)
       |  WHERE rnk <= $Bm25K),
       |u AS (SELECT * FROM sparse UNION ALL SELECT * FROM dense)
       |SELECT id,
       |  CAST(sum((2000000 + (60 + rnk)) // (2 * (60 + rnk))) AS BIGINT)
       |    AS rrf_micro,
       |  count(*) AS n_lists
       |FROM u GROUP BY id
       |ORDER BY rrf_micro DESC, id
       |LIMIT $RrfTopOut""".stripMargin

  /** Corpus vocabulary floor for [[textJsd]]: only words the corpus as
    * a whole uses at least this often enter the distributions (and the
    * totals renormalize over that vocabulary). This is how production
    * drift monitors bound the comparison vocabulary — the heavy tail of
    * hapaxes is noise for a distribution distance and would make the
    * source×vocab grid scale with corpus size instead of vocab size.
    */
  private val JsdMinCorpusCount = 5L

  /** Per-source distribution drift: Jensen-Shannon divergence between
    * each source's unigram distribution P and the corpus distribution Q
    * — the "did this crawl/snapshot shift under me" monitor run before
    * mixing sources into a training corpus (JSD rather than KL: finite
    * even where a source misses corpus words, symmetric-bounded [0,1]
    * bit). Plan: ONE tokenize+count exchange on (source, word) feeds
    * everything — corpus counts and source totals are partial
    * re-aggregations of it, and the grid is the vocab-scale count table
    * cross-joined with the broadcast config-scale source-totals row set
    * (map-side fan-out, no corpus rescan). Each word's JSD contribution
    * 0.5·p·log2(2p∕(p+q)) + 0.5·q·log2(2q∕(p+q)) is quantized to
    * integer MICRO-bits before the per-source sum (the text_entropy
    * move), so the result is exact across engines, partitionings and
    * accumulation orders; p and q are ratios of exact integer counts.
    */
  def textJsd(s: SparkSession, dir: String): DataFrame = {
    val sw = Tables(s, dir).documents
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    try {
      val vocab = sw.groupBy(col("w")).agg(sum(col("c")).as("cw"))
        .filter(col("cw") >= JsdMinCorpusCount)
        .localCheckpoint(false)
      try {
        val t = vocab.agg(sum(col("cw"))).collect()(0).getLong(0)
        val ts = sw.join(vocab.select(col("w")), "w")
          .groupBy(col("source")).agg(sum(col("c")).as("tsrc"))
        val grid = vocab.crossJoin(broadcast(ts))
          .join(sw, Seq("source", "w"), "left")
          .select(col("source"), col("tsrc"),
            coalesce(col("c"), lit(0L)).as("c"), col("cw"))
        val p = col("c").cast("double") / col("tsrc").cast("double")
        val q = col("cw").cast("double") / lit(t.toDouble)
        val micro = floor(
          (when(col("c") > 0,
            lit(0.5) * p * log2(lit(2.0) * p / (p + q)))
            .otherwise(lit(0.0))
            + lit(0.5) * q * log2(lit(2.0) * q / (p + q))) * 1e6 + 0.5)
          .cast("long")
        grid.select(col("source"), col("tsrc"), micro.as("micro"))
          .groupBy(col("source"))
          .agg(max(col("tsrc")).as("n_tokens"),
            round(sum(col("micro")).cast("double") / 1e6, 6).as("jsd"))
          .orderBy(col("source"))
          .localCheckpoint(true)
      } finally graft.util.Caches.release(vocab)
    } finally graft.util.Caches.release(sw)
  }

  val textJsdSql: String =
    s"""WITH tok AS (
       |  SELECT source, unnest($toksSql) AS w FROM documents),
       |sw AS (SELECT source, w, count(*) AS c FROM tok GROUP BY source, w),
       |v AS (SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM sw GROUP BY w
       |      HAVING sum(c) >= $JsdMinCorpusCount),
       |tot AS (SELECT CAST(sum(cw) AS BIGINT) AS t FROM v),
       |tsrc AS (
       |  SELECT source, CAST(sum(c) AS BIGINT) AS tsrc
       |  FROM sw JOIN v USING (w) GROUP BY source),
       |grid AS (
       |  SELECT tsrc.source, tsrc.tsrc, v.cw, tot.t,
       |    coalesce(sw.c, 0) AS c
       |  FROM v CROSS JOIN tsrc CROSS JOIN tot
       |  LEFT JOIN sw ON sw.source = tsrc.source AND sw.w = v.w),
       |term AS (
       |  SELECT source, tsrc,
       |    floor(((CASE WHEN c > 0 THEN
       |        0.5 * (c::DOUBLE / tsrc::DOUBLE)
       |          * log2(2.0 * (c::DOUBLE / tsrc::DOUBLE)
       |            / ((c::DOUBLE / tsrc::DOUBLE) + (cw::DOUBLE / t::DOUBLE)))
       |        ELSE 0.0 END)
       |      + 0.5 * (cw::DOUBLE / t::DOUBLE)
       |        * log2(2.0 * (cw::DOUBLE / t::DOUBLE)
       |          / ((c::DOUBLE / tsrc::DOUBLE) + (cw::DOUBLE / t::DOUBLE))))
       |      * 1e6 + 0.5)::BIGINT AS micro
       |  FROM grid)
       |SELECT source, max(tsrc) AS n_tokens,
       |  round(sum(micro)::DOUBLE / 1e6, 6) AS jsd
       |FROM term GROUP BY source
       |ORDER BY source""".stripMargin

  /** Compression-ratio quality signal (graft.functions.DeflateSize):
    * deflated bytes ∕ raw bytes per doc, the "too compressible =
    * boilerplate/spam, incompressible = binary junk" filter the
    * RefinedWeb/Gopher lineage applies alongside entropy and
    * repetition. One native codegen pass per row, no shuffle. Rows-only
    * (DuckDB has no deflate); TextSpec pins a driver-side Deflater
    * replay plus the repetitive ≪ natural ≪ incompressible ordering.
    */
  def textCompress(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        ColumnBridge.column(graft.functions.DeflateSize(
          ColumnBridge.expression(col("text")))).as("z_bytes"))
      .withColumn("ratio",
        when(col("n_bytes") > 0,
          round(col("z_bytes").cast("double") / col("n_bytes"), 4)))
      .withColumn("keep", col("ratio") >= 0.3 && col("ratio") <= 1.1)
      .orderBy(col("doc_id"))

  /** Vocabulary coverage audit — the tokenizer-design number: what
    * fraction of token OCCURRENCES do the top-k types cover (k = 10 /
    * 100 / 1000)? A head-heavy curve says a small vocab + byte
    * fallback suffices; a flat one predicts OOV pain. Each k rides a
    * TakeOrderedAndProject over the type counts — top-k needs no
    * global sort or single-partition window at ANY vocabulary size —
    * and the one-row total broadcasts. Ties break on the token string
    * in both engines.
    */
  def textVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables(s, dir).documents
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    Seq(10, 100, 1000).map { k =>
      counts.orderBy(col("cnt").desc, col("tok")).limit(k)
        .agg(count(lit(1)).as("n_types"),
          coalesce(sum(col("cnt")), lit(0L)).as("covered"))
        .crossJoin(broadcast(total))
        .select(lit(k.toLong).as("top_k"), col("n_types"), col("covered"),
          col("total"),
          (floor(col("covered").cast("double") / col("total") * 10000
            + 0.5) / 10000).as("coverage"))
    }.reduce(_ unionByName _).orderBy(col("top_k"))
  }

  val textVocabCoverageSql: String =
    """WITH c AS (
      |  SELECT tok, count(*) AS cnt FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
      |                              x -> x <> '')) AS tok
      |    FROM documents)
      |  GROUP BY tok),
      |t AS (SELECT sum(cnt)::BIGINT AS total FROM c),
      |r AS (
      |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rn
      |  FROM c)
      |SELECT ks.k AS top_k, count(*) AS n_types,
      |  sum(cnt)::BIGINT AS covered, max(t.total) AS total,
      |  floor(sum(cnt)::DOUBLE / max(t.total) * 10000 + 0.5) / 10000
      |    AS coverage
      |FROM r, (SELECT unnest([10, 100, 1000]::BIGINT[]) AS k) ks, t
      |WHERE r.rn <= ks.k
      |GROUP BY ks.k
      |ORDER BY top_k""".stripMargin

  /** Corpus-level duplicated-n-gram fractions for n = 1..4 — the
    * RefinedWeb/Gopher CORPUS health metrics beside text_repetition's
    * per-doc ones: of all n-gram OCCURRENCES in the corpus, what share
    * belongs to grams that occur more than once (dup_ppm, integer
    * parts-per-million — exact), plus total and distinct gram counts.
    * Rising dup fractions across crawls = boilerplate/mirror growth;
    * the n = 1 row doubles as a type/token ratio. Four passes, each ONE
    * (gram)-keyed partial-agg exchange folded to a single row — the
    * gram stream is never collected, and the per-n rollup is a free
    * union. dup_occ·10⁶ stays under 2⁶³ to ~10¹² occurrences per gram
    * size; past that, escrow the product in DECIMAL(38,0) (the q_corr
    * move).
    */
  def textDupGrams(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir).documents
      .withColumn("toks", TextOps.tokens(col("text")))
    (1 to 4).map { n =>
      docs.select(explode(TextOps.wordNgramsAll(col("toks"), n)).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_occurrences"),
          count(lit(1)).as("n_distinct"),
          sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_occ"))
        .select(lit(n).as("n"), col("n_occurrences"), col("n_distinct"),
          expr("(dup_occ * 1000000) div n_occurrences").as("dup_ppm"))
    }.reduce(_ unionByName _)
      .orderBy(col("n"))
  }

  val textDupGramsSql: String =
    s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
       |g AS (
       |  SELECT 1 AS n, unnest(toks) AS gram FROM t
       |  UNION ALL
       |  SELECT 2, unnest([array_to_string(toks[i:i+1], ' ')
       |                    FOR i IN range(1, len(toks))])
       |  FROM t WHERE len(toks) >= 2
       |  UNION ALL
       |  SELECT 3, unnest([array_to_string(toks[i:i+2], ' ')
       |                    FOR i IN range(1, len(toks) - 1)])
       |  FROM t WHERE len(toks) >= 3
       |  UNION ALL
       |  SELECT 4, unnest([array_to_string(toks[i:i+3], ' ')
       |                    FOR i IN range(1, len(toks) - 2)])
       |  FROM t WHERE len(toks) >= 4),
       |c AS (SELECT n, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
       |SELECT n, sum(cnt)::BIGINT AS n_occurrences, count(*) AS n_distinct,
       |  ((sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) * 1000000)
       |   // sum(cnt))::BIGINT AS dup_ppm
       |FROM c
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_dup_grams" -> (textDupGrams _),
    "text_vocab_coverage" -> (textVocabCoverage _),
    "text_compress" -> (textCompress _),
    "text_jsd" -> (textJsd _),
    "text_rrf" -> (textRrf _),
    "text_bm25" -> (textBm25 _),
    "text_cooc_pmi" -> (textCoocPmi _),
    "text_pagerank" -> (textPagerank _),
    "text_bpe" -> (textBpe _),
    "text_bpe_apply" -> (textBpeApply _),
    "text_lmscore" -> (textLmscore _),
    "text_entropy" -> (textEntropy _),
    "text_chunk" -> (textChunk _),
    "text_normalize" -> (textNormalize _),
    "text_tokens" -> (textTokens _),
    "text_quality" -> (textQuality _),
    "text_langid" -> (textLangid _),
    "text_fingerprint" -> (textFingerprint _),
    "text_ngrams" -> (textNgrams _),
    "text_repetition" -> (textRepetition _),
    "tfidf_topterms" -> (tfidfTopterms _),
    "text_nbclassify" -> (textNbclassify _),
    "text_phrase_search" -> (textPhraseSearch _),
    "text_readability" -> (textReadability _))

  val oracleSql: Map[String, String] = Map(
    "text_dup_grams" -> textDupGramsSql,
    "text_jsd" -> textJsdSql,
    "text_rrf" -> textRrfSql,
    "text_bm25" -> textBm25Sql,
    "text_cooc_pmi" -> textCoocPmiSql,
    "text_pagerank" -> textPagerankSql,
    "text_lmscore" -> textLmscoreSql,
    "text_vocab_coverage" -> textVocabCoverageSql,
    "text_entropy" -> textEntropySql,
    "text_chunk" -> textChunkSql,
    "text_normalize" -> textNormalizeSql,
    "text_tokens" -> textTokensSql,
    "text_quality" -> textQualitySql,
    "text_langid" -> textLangidSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_ngrams" -> textNgramsSql,
    "text_repetition" -> textRepetitionSql,
    "tfidf_topterms" -> tfidfToptermsSql,
    "text_nbclassify" -> textNbclassifySql,
    "text_phrase_search" -> textPhraseSearchSql,
    "text_readability" -> textReadabilitySql)
}
